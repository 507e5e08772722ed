package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Corpus, Dedup}

/** §2.D corpus-assembly queries: document chunking, sequence packing,
  * weighted source mixing, export sharding — the stages that turn a
  * cleaned/deduped corpus into training shards (operators.Corpus).
  *
  * Oracle numerics: every hash decision is the md5-per-mille bucket
  * family (engine-portable bit-for-bit); every token count is the same
  * lowercase-whitespace tokenization both sides; aggregates are integer
  * counts/sums (no float drift possible).
  */
object QueriesCorpus {
  import Tables._

  private lazy val enStopList: String =
    graft.functions.TextAnalysis.Stopwords.toMap.apply("en")
      .map(w => s"'$w'").mkString(", ")

  /** Target language mix: upsample English, downsample the tail — the
    * shape of every real pretraining mixture spec. */
  private val langRates = Seq(
    "en" -> 0.9, "es" -> 0.5, "fr" -> 0.5, "de" -> 0.25, "zh" -> 0.1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sliding-window chunking: 32-token windows, stride 24 (8-token
    // overlap) — row-local explode, no shuffle
    "text_chunk" -> ((s, d) =>
      Corpus.chunkTokens(documents(s, d), "doc_id", "text",
        chunkSize = 32, stride = 24)),

    // fixed-budget sequence packing: 512-token bins filled in doc-id
    // order within 8 hash shards — one key-partitioned window
    "corpus_pack" -> ((s, d) =>
      Corpus.packSequences(documents(s, d), "doc_id", "text",
        budgetTokens = 512, shards = 8)),

    // packing EFFICIENCY report: per shard, bins/docs/tokens and the
    // exact fill ratio in integer ppm (Σtokens·10⁶ div bins·budget) —
    // the waste metric a training pipeline watches when sizing
    // sequence budgets; zero float surface
    "corpus_pack_report" -> ((s, d) =>
      Corpus.packSequences(documents(s, d), "doc_id", "text",
          budgetTokens = 512, shards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_bins"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("tokens_packed")).as("tokens"),
          expr("CAST(SUM(tokens_packed) * 1000000 div (COUNT(1) * 512) AS BIGINT)")
            .as("fill_ppm"))),

    // packing under REAL tokenizer budgets: BPE piece counts (vocab
    // broadcast encode) drive the bins, not the whitespace proxy
    "corpus_pack_bpe" -> ((s, d) =>
      Corpus.packSequencesBpe(documents(s, d), "doc_id", "text",
        budgetTokens = 512, shards = 8)),

    // the round's new families composed end-to-end in ONE logical
    // plan: Gopher METRIC gate (thresholds corpus-tuned, as the
    // published recipe prescribes per source — the fixed stopword
    // rule would zero this synthetic vocabulary) → exact-dedup keep
    // (min id per distinct text) → BPE-budget packing of the
    // survivors — each stage still oracle-exact through the chain
    "corpus_pipeline_v2" -> ((s, d) => {
      val docs = documents(s, d)
      val passed = graft.operators.TextStats
        .gopherRules(docs, "doc_id", "text", minWords = 20)
        .where(col("n_words") >= 20 and col("mean_wlen") >= 3.0 and
          col("symbol_ratio") < 0.1 and col("alpha_frac") >= 0.8)
        .select(col("doc_id"))
      val clean = docs.join(passed, "doc_id")
      val keep = clean.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      Corpus.packSequencesBpe(clean.join(keep, "doc_id"),
        "doc_id", "text", budgetTokens = 512, shards = 8)
    }),

    // the real long-doc pre-training shape, composed end-to-end:
    // CHUNK first (32/16 sliding windows), then PACK the chunks into
    // 256-token budget bins — packSequences' scaladoc contract
    // ("packers chunk first") proven as one logical plan; chunk ids
    // pack (doc, idx) into one long so the per-shard prefix-sum stays
    // a pure window over a unique monotone key
    "corpus_chunk_pack" -> ((s, d) => {
      val chunks = Corpus.chunkTokens(documents(s, d), "doc_id", "text",
          chunkSize = 32, stride = 16)
        .select(
          Dedup.pack(col("doc_id"), col("chunk_idx"), "corpus_chunk_pack: id")
            .as("cid"),
          col("chunk_text"))
      Corpus.packSequences(chunks, "cid", "chunk_text",
        budgetTokens = 256, shards = 8)
    }),

    // weighted language mixing: deterministic per-mille keep decision
    // per doc; broadcast rate table, row-local filter
    "corpus_mix" -> ((s, d) =>
      Corpus.mixWeighted(documents(s, d), "doc_id", "lang", langRates)
        .select("doc_id", "lang", "source")),

    // export sharding balance: 16 hash shards, per-shard doc/token totals
    "corpus_shards" -> ((s, d) =>
      Corpus.shardStats(documents(s, d), "doc_id", "text", shards = 16)),

    // deterministic epoch-seeded training-order shuffle: md5 shard +
    // per-shard seeded-rank position — a full pseudorandom permutation
    // with NO global sort (ordering state bounded by corpus/shards)
    "corpus_shuffle" -> ((s, d) =>
      Corpus.shuffleOrder(documents(s, d), "doc_id", seed = "ep1",
        shards = 16)),

    // the whole corpus pipeline as ONE gate query: exact-dedup (keep
    // min-id per distinct text) → PII-mask → weighted language mix →
    // dataset-card stats. Proves the stages COMPOSE — one logical plan,
    // every stage's semantics still oracle-exact through the chain
    "corpus_pipeline" -> ((s, d) => {
      val docs = documents(s, d)
      val keep = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val masked = docs.join(keep, "doc_id")
        .select(col("doc_id"), col("lang"),
          graft.functions.TextAnalysis.maskPii(col("text")).as("text"))
      Corpus.mixWeighted(masked, "doc_id", "lang", langRates)
        .select(col("lang"),
          size(graft.functions.TextAnalysis.tokens(col("text"))).as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("tokens"))
    }),

    // test-set decontamination: a deterministic 5% of docs play the
    // held-out benchmark; corpus docs sharing any 8-gram with them are
    // flagged with the distinct-shared-gram count (flag-then-drop input)
    "corpus_decontaminate" -> ((s, d) => {
      val docs = documents(s, d)
      val isBench = Corpus.hashBucket(col("doc_id"), "bench", 100) < 5
      Corpus.decontaminate(
        docs.where(!isBench), docs.where(isBench), "doc_id", "text", n = 8)
    }),

    // fuzzy decontamination: minhash near-dup sweep of the corpus
    // against the same 5% benchmark split — catches paraphrased
    // leakage the exact 8-gram sweep misses (cross-side band join,
    // benchmark = bounded build side)
    "corpus_decontaminate_fuzzy" -> ((s, d) => {
      val docs = documents(s, d)
      val isBench = Corpus.hashBucket(col("doc_id"), "bench", 100) < 5
      Corpus.decontaminateFuzzy(
        docs.where(!isBench), docs.where(isBench), "doc_id", "text",
        minMatches = 6)
    }),

    // exact-k weighted sample without replacement (Efraimidis-Spirakis
    // A-Res): deterministic exponential-race keys, TakeOrdered top-k —
    // weight = doc length, so long docs are overrepresented but short
    // ones still win slots
    "corpus_weighted_topk" -> ((s, d) =>
      Corpus.sampleWeightedK(
        documents(s, d).withColumn("w", length(col("text")).cast("double")),
        "doc_id", "w", k = 50)
        .select(col("doc_id"), col("w"),
          expr("CAST(sample_key AS DOUBLE)").as("sample_key"))),

    // DSIR importance scores: raw docs scored by hashed-ngram
    // log-likelihood ratio against the 5% bench split as the target
    // distribution (m-row broadcast log-ratio table, decimal-exact
    // per-doc sums)
    "corpus_dsir" -> ((s, d) => {
      val docs = documents(s, d)
      val isBench = Corpus.hashBucket(col("doc_id"), "bench", 100) < 5
      Corpus.dsirScores(
        docs.where(!isBench), docs.where(isBench), "doc_id", "text", m = 64)
    }),

    // TF-IDF keyword extraction: top-3 scoring terms per doc (smoothed
    // idf; ranking on the ROUNDED score, term tie-break — deterministic
    // across engines)
    "corpus_tfidf" -> ((s, d) =>
      Corpus.tfidfTopTerms(documents(s, d), "doc_id", "text", k = 3)),

    // boilerplate detection: 4-grams shared by >= 3 distinct docs are
    // boilerplate candidates; per-doc exposure count + ratio
    "corpus_boilerplate" -> ((s, d) =>
      Corpus.boilerplate(documents(s, d), "doc_id", "text",
        n = 4, minDocs = 3)),

    // unigram-LM quality score: mean token log-prob under the corpus's
    // own term distribution (per-term log-probs rounded then summed as
    // exact decimals — float association order cannot leak out)
    "corpus_lm_score" -> ((s, d) =>
      Corpus.lmScore(documents(s, d), "doc_id", "text")),

    // deterministic per-language eyeball sample: exactly 20 docs per
    // lang in md5 order — reproducible on any engine or task retry
    "corpus_sample" -> ((s, d) =>
      Corpus.samplePerGroup(documents(s, d), "doc_id", "lang", n = 20)
        .select("lang", "sample_rank", "doc_id")),

    // weight-proportional sampling: longer docs kept with higher
    // probability (u(md5) < n_chars/max) — deterministic importance
    // sampling, per-row gradient that per-class mix rates can't express
    "corpus_weighted_sample" -> ((s, d) =>
      Corpus.sampleWeighted(documents(s, d), "doc_id", "n_chars")
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum("n_chars").as("chars_kept"),
          min("doc_id").as("first_doc"))),

    // deterministic stratified train/val/test split: assignment is a
    // pure row-local function of doc_id (md5 bucket), reproducible
    // across engines/retries/layouts where randomSplit is not
    "corpus_split" -> ((s, d) =>
      Corpus.stratifiedSplit(documents(s, d), "doc_id", "split",
          Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))),

    // percentile-based quality cut: drop each language's worst quartile
    // by composite quality score; thresholds from the bounded-memory
    // binned percentile, broadcast back for a one-scan filter
    "corpus_quality_filter" -> ((s, d) =>
      Corpus.qualityGate(
        graft.operators.TextStats.qualityScored(
          documents(s, d), "doc_id", "text", "lang"),
        "lang", "score", p = 0.25)
        .select("doc_id", "lang", "score", "q_threshold")),

    // fill-in-the-middle prep: deterministic hash-derived (prefix,
    // middle, suffix) cut re-emitted in PSM order — row-local,
    // regeneration-reproducible on any engine/partitioning
    "corpus_fim_split" -> ((s, d) =>
      Corpus.fimSplit(documents(s, d), "doc_id", "text")),

    // contrastive quality pairs: per-language top quarter rank-matched
    // to bottom quarter — the fastText-quality-classifier training set
    "corpus_contrastive_pairs" -> ((s, d) =>
      Corpus.contrastivePairs(
        graft.operators.TextStats.qualityScored(
          documents(s, d), "doc_id", "text", "lang"),
        "doc_id", "lang", "score")),

    // BM25 retrieval: top-10 docs for a 3-term probe — the
    // decontamination / corpus-QA search primitive; only query-term
    // token rows survive past the scan stage
    "corpus_bm25" -> ((s, d) =>
      Corpus.bm25(documents(s, d), "doc_id", "text",
        queryTerms = Seq("vector", "stream", "hash"), topK = 10)),

    // exact phrase search: positional postings pre-filtered to the
    // query's terms, |phrase|-1 equi-joins on (doc, pos-offset) — no
    // LIKE scan; only query-term postings ever shuffle
    "corpus_phrase_search" -> ((s, d) =>
      Corpus.phraseSearch(documents(s, d), "doc_id", "text",
        Seq("slow", "hash", "batch"))),

    // bigram-LM fluency: mean negative log-prob of each doc's adjacent
    // token pairs under the corpus's own smoothed bigram distribution
    "corpus_perplexity" -> ((s, d) =>
      Corpus.bigramNll(documents(s, d), "doc_id", "text")),

    // the Kneser-Ney upgrade: absolute discounting + continuation
    // probability (contexts-followed, not raw frequency) — the
    // smoothing CCNet's LM actually uses, at bigram order
    "corpus_perplexity_kn" -> ((s, d) =>
      Corpus.bigramNllKn(documents(s, d), "doc_id", "text")),

    // Zipf head coverage: top-100 terms with cumulative token share —
    // the rank-frequency curve vocab budgets are planned against
    "corpus_zipf" -> ((s, d) =>
      Corpus.zipfCoverage(documents(s, d), "text", topK = 100)),

    // feature-hashing vectorizer (the "hashing trick"): tokens →
    // signed hashed dimensions, no vocabulary table — the projection
    // that scales where TF-IDF's corpus dictionary can't; exact
    // integer long-form output
    "corpus_hash_embed" -> ((s, d) =>
      Corpus.hashEmbed(documents(s, d), "doc_id", "text", dim = 64)),

    // CCNet-style head/middle/tail split: per-language NLL tertiles
    // (ntile over the deterministic (nll, doc_id) total order). One
    // extra per-lang window over the perplexity frame — no new scan
    "corpus_ccnet_bucket" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        .orderBy(col("nll").asc, col("doc_id").asc)
      Corpus.bigramNll(documents(s, d), "doc_id", "text")
        .join(documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("tr", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("nll"),
          when(col("tr") === 1, lit("head"))
            .when(col("tr") === 2, lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
    }),

    // BPE merge-step statistics: top adjacent-char-pair frequencies
    // weighted by token frequency (tokenizer-fit QA); pair extraction
    // runs over the vocab-sized distinct-token table, not the corpus
    "corpus_bpe_pairs" -> ((s, d) =>
      Corpus.bpePairs(documents(s, d), "text", topK = 50)),

    // BPE ENCODE: apply the fixed ordered merge table to the top-200
    // vocab terms — piece sequences + counts; the encode runs once per
    // DISTINCT term (vocab-sized). The oracle replays the identical
    // replace chain (generated from the same Scala merge table).
    "corpus_bpe_encode" -> ((s, d) =>
      Corpus.bpeEncodeVocab(documents(s, d), "text", topK = 200)),

    // the tokenizer-training loop itself: learn 8 merges from corpus
    // pair statistics (vocab-sized state, one argmax scalar per round)
    "corpus_bpe_train" -> ((s, d) =>
      Corpus.bpeTrain(documents(s, d), "text", nMerges = 8)),

    // per-language TOKEN quotas (the absolute-size form of mixing):
    // md5-ordered docs fill each language's budget via one keyed
    // cumulative window; kept iff the doc's own cumsum still fits
    "corpus_token_budget" -> ((s, d) =>
      Corpus.tokenBudgetMix(documents(s, d), "doc_id", "text", "lang",
        budgets = Map("en" -> 5000L, "es" -> 2000L, "fr" -> 1500L,
          "de" -> 1000L, "zh" -> 500L))),

    // T5/UL2 span-corruption denoising split: two md5-derived masked
    // token spans → sentinel-corrupted input + reconstruction target,
    // reproducible on any engine (fimSplit's discipline, token domain)
    "corpus_span_corruption" -> ((s, d) =>
      Corpus.spanCorruption(documents(s, d), "doc_id", "text")),

    // temperature-scaled (α=0.5) multilingual sampling plan: weights ∝
    // n_tok^α, per-language keep rates for a 100k-token budget —
    // PRINCIPLED rates feeding the mixing ops instead of hand-picked
    "corpus_temperature_mix" -> ((s, d) =>
      Corpus.temperatureMix(documents(s, d), "text", "lang",
        alpha = 0.5, budgetTokens = 100000L)),

    // hybrid retrieval: BM25 top-50 and hash-embed-cosine top-50 for
    // the same probe, fused by reciprocal-rank fusion (rank-only — the
    // two score scales never mix); final top-10. The fusion join runs
    // over two 50-row frames regardless of corpus size.
    "corpus_hybrid_rrf" -> ((s, d) =>
      Corpus.hybridRrf(documents(s, d), "doc_id", "text",
        queryTerms = Seq("vector", "stream", "hash"), dim = 64,
        k = 60, topKPerList = 50, topK = 10)),

    // tokenizer fertility by language (pieces per word, exact ppm):
    // the multilingual-fairness metric — a tokenizer that fragments
    // one language pays its speakers more context per sentence
    "corpus_fertility" -> ((s, d) => {
      val docs = documents(s, d)
      Corpus.bpeTokenCounts(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("n_words"),
          sum(col("n_bpe_tokens")).cast("long").as("n_pieces"))
        .withColumn("fertility_ppm",
          expr("CAST(n_pieces * 1000000 div n_words AS BIGINT)"))
    }),

    // corpus reporting: per-language doc/token totals and token-count
    // quantiles — the dataset card a training run starts from
    "corpus_stats" -> ((s, d) =>
      documents(s, d)
        .select(col("lang"),
          size(graft.functions.TextAnalysis.tokens(col("text"))).as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("tokens"),
          expr("CAST(ROUND(CAST(SUM(CAST(n_tok AS BIGINT)) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)").as("mean_tok"),
          expr("CAST(ROUND(PERCENTILE(n_tok, 0.5), 2) AS DOUBLE)").as("p50_tok"),
          expr("CAST(ROUND(PERCENTILE(n_tok, 0.9), 2) AS DOUBLE)").as("p90_tok")))
  )

  private val toksCte =
    "SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x<>'') AS w FROM documents"

  /** The corpus_perplexity oracle body (add-1 smoothed bigram NLL per
    * doc) — shared by corpus_perplexity and corpus_ccnet_bucket. */
  private val perplexityOracle: String =
    s"""WITH t AS ($toksCte),
       |bg AS (
       |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
       |  FROM t WHERE len(w) >= 2),
       |dtf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
       |c2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2 FROM dtf GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
       |vo AS (SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(w) AS tok FROM t)),
       |nl AS (
       |  SELECT doc_id, tf,
       |    CAST(ROUND(-LN((CAST(c2 AS DOUBLE) + 1.0) / (c1 + v)), 6) AS DECIMAL(18,6)) AS nl
       |  FROM dtf JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vo)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       |  CAST(ROUND(CAST(SUM(nl * tf) AS DOUBLE) / SUM(tf), 4) AS DOUBLE) AS nll
       |FROM nl GROUP BY doc_id""".stripMargin

  // unrolled N-round BPE training: each round counts adjacent symbol
  // pairs from the previous round's vocab, picks the (n DESC, pair ASC)
  // argmax as a scalar subquery, and replays the engine's literal
  // " x y" -> " xy" replace — generated from the same round count the
  // engine runs, so the two sides cannot drift
  private def bpeTrainSql(nMerges: Int): String = {
    val head =
      s"""WITH t AS ($toksCte),
         |tc AS (SELECT term, COUNT(*) AS ctf
         |  FROM (SELECT unnest(w) AS term FROM t) GROUP BY 1),
         |v0 AS MATERIALIZED (SELECT ctf, ' ' || array_to_string(
         |  [substr(term, i, 1) for i in range(1, length(term)+1)], ' ') AS sym
         |  FROM tc)""".stripMargin
    // MATERIALIZED is load-bearing: each round references the previous
    // vocab twice (pair counts + next replace), so inlined CTEs would
    // expand the plan (and the base parquet scan) 2^N-fold
    val rounds = (1 to nMerges).map { r =>
      s""",
         |p$r AS (
         |  SELECT p.l AS l, p.r AS r, SUM(ctf) AS n FROM (
         |    SELECT ctf, unnest([{'l': s[i], 'r': s[i+1]} for i in range(1, len(s))]) AS p
         |    FROM (SELECT ctf, string_split(substr(sym, 2), ' ') AS s FROM v${r - 1}) z) y
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT l, r, n FROM p$r ORDER BY n DESC, l, r LIMIT 1),
         |v$r AS MATERIALIZED (SELECT ctf, replace(sym,
         |    ' ' || (SELECT l FROM b$r) || ' ' || (SELECT r FROM b$r),
         |    ' ' || (SELECT l FROM b$r) || (SELECT r FROM b$r)) AS sym FROM v${r - 1})""".stripMargin
    }.mkString
    val union = (1 to nMerges)
      .map(r => s"SELECT $r AS rank, l AS lhs, r AS rhs, l || r AS merged, n FROM b$r")
      .mkString(" UNION ALL ")
    s"""$head$rounds
       |SELECT CAST(rank AS INT) AS rank, lhs, rhs, merged,
       |  CAST(n AS BIGINT) AS n
       |FROM ($union) u""".stripMargin
  }

  // the oracle's replace chain, generated from the SAME merge table the
  // engine applies — the two sides cannot drift
  private val bpeReplaceChain: String =
    Corpus.DefaultMerges.foldLeft(
      "' ' || array_to_string([substr(term, i, 1) for i in range(1, length(term)+1)], ' ')") {
      case (acc, (x, y)) => s"replace($acc, ' $x $y', ' $x$y')"
    }

  val oracle: Map[String, String] = Map(
    // range bound 4096 = docs up to ~98k tokens (corpus max is 100);
    // chunk count mirrors Corpus.chunkTokens: 1 + ceil(max(len-32,0)/24)
    "text_chunk" ->
      s"""WITH t AS ($toksCte),
         |c AS (SELECT doc_id, w,
         |        1 + CAST(CEIL(GREATEST(len(w) - 32, 0)/24.0) AS INT) AS nc
         |      FROM t WHERE len(w) > 0)
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(len(w[(i*24+1):(i*24+32)]) AS INT) AS n_chunk_tokens,
         |  array_to_string(w[(i*24+1):(i*24+32)], ' ') AS chunk_text
         |FROM c, range(0, 4096) r(i) WHERE i < nc""".stripMargin,

    "corpus_pack" ->
      s"""WITH t AS ($toksCte),
         |s AS (
         |  SELECT doc_id, len(w) AS n_tok,
         |    CAST(('0x'||substr(md5('pack:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 8 AS INT) AS shard
         |  FROM t WHERE len(w) > 0),
         |c AS (
         |  SELECT shard, doc_id, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM s)
         |SELECT shard, CAST(FLOOR((cum - n_tok)/512.0) AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS tokens_packed,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
         |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
         |FROM c GROUP BY shard, bin""".stripMargin,

    // corpus_pack's bin frame wrapped in the per-shard aggregate; the
    // fill ratio is integer floor-div ppm both engines
    "corpus_pack_report" ->
      s"""WITH t AS ($toksCte),
         |s AS (
         |  SELECT doc_id, len(w) AS n_tok,
         |    CAST(('0x'||substr(md5('pack:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 8 AS INT) AS shard
         |  FROM t WHERE len(w) > 0),
         |c AS (
         |  SELECT shard, doc_id, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM s),
         |b AS (
         |  SELECT shard, CAST(FLOOR((cum - n_tok)/512.0) AS BIGINT) AS bin,
         |    CAST(SUM(n_tok) AS BIGINT) AS tokens_packed,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM c GROUP BY shard, bin)
         |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_bins,
         |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |  CAST(SUM(tokens_packed) AS BIGINT) AS tokens,
         |  CAST(SUM(tokens_packed) * 1000000 // (COUNT(*) * 512) AS BIGINT) AS fill_ppm
         |FROM b GROUP BY shard""".stripMargin,

    // chunk CTE (text_chunk's 32/16) feeding corpus_pack's prefix-sum
    // arithmetic over the packed chunk id — one composed mirror
    "corpus_chunk_pack" ->
      s"""WITH t AS ($toksCte),
         |c0 AS (
         |  SELECT doc_id, w, 1 + CAST(CEIL(GREATEST(len(w) - 32, 0)/16.0) AS INT) AS nc
         |  FROM t WHERE len(w) > 0),
         |ch AS (
         |  SELECT doc_id * 1048576 + i AS cid,
         |    len(w[(i*16+1):(i*16+32)]) AS n_tok
         |  FROM c0, range(0, 4096) r(i) WHERE i < nc),
         |s AS (
         |  SELECT cid, n_tok,
         |    CAST(('0x'||substr(md5('pack:'||CAST(cid AS VARCHAR)),1,8))::BIGINT % 8 AS INT) AS shard
         |  FROM ch WHERE n_tok > 0),
         |c AS (
         |  SELECT shard, cid, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY cid
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM s)
         |SELECT shard, CAST(FLOOR((cum - n_tok)/256.0) AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS tokens_packed,
         |  CAST(MIN(cid) AS BIGINT) AS first_doc,
         |  CAST(MAX(cid) AS BIGINT) AS last_doc
         |FROM c GROUP BY shard, bin""".stripMargin,

    "corpus_mix" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x'||substr(md5('mix:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 1000 <
        |  CASE lang WHEN 'en' THEN 900 WHEN 'es' THEN 500 WHEN 'fr' THEN 500
        |            WHEN 'de' THEN 250 WHEN 'zh' THEN 100 ELSE 0 END""".stripMargin,

    "corpus_pipeline" ->
      """WITH keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |masked AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(
        |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{6,}', '<NUM>', 'g') AS text
        |  FROM documents JOIN keep USING (doc_id)),
        |mixed AS (
        |  SELECT * FROM masked
        |  WHERE ('0x'||substr(md5('mix:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 1000 <
        |    CASE lang WHEN 'en' THEN 900 WHEN 'es' THEN 500 WHEN 'fr' THEN 500
        |              WHEN 'de' THEN 250 WHEN 'zh' THEN 100 ELSE 0 END)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(list_filter(string_split(lower(text),' '), x -> x<>''))) AS BIGINT) AS tokens
        |FROM mixed GROUP BY lang""".stripMargin,

    // 8-gram i covers w[i : i+7] (1-based inclusive slice), i ranges
    // 1 .. len-7; gram identity is the gram STRING here vs xxhash64 in
    // Spark — counts agree unless a 64-bit collision (~1e-16)
    "corpus_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x<>'') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([array_to_string(w[i:i+7], ' ') for i in range(1, len(w)-6)])) AS gram
        |  FROM t WHERE len(w) >= 8),
        |b AS (
        |  SELECT DISTINCT gram FROM g
        |  WHERE ('0x'||substr(md5('bench:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 5),
        |c AS (
        |  SELECT doc_id, gram FROM g
        |  WHERE ('0x'||substr(md5('bench:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 >= 5)
        |SELECT doc_id, CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_shared
        |FROM c JOIN b USING (gram) GROUP BY doc_id""".stripMargin,

    "corpus_stats" ->
      """WITH t AS (
        |  SELECT lang,
        |    len(list_filter(string_split(lower(text),' '), x -> x<>'')) AS n_tok
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tokens,
        |  CAST(ROUND(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS mean_tok,
        |  CAST(ROUND(quantile_cont(n_tok, 0.5), 2) AS DOUBLE) AS p50_tok,
        |  CAST(ROUND(quantile_cont(n_tok, 0.9), 2) AS DOUBLE) AS p90_tok
        |FROM t GROUP BY lang""".stripMargin,

    "corpus_tfidf" ->
      s"""WITH t AS ($toksCte),
         |tf AS (
         |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(w) AS term FROM t WHERE len(w) > 0)
         |  GROUP BY doc_id, term),
         |dfq AS (SELECT term, COUNT(*) AS n_docs_term FROM tf GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM t WHERE len(w) > 0),
         |sc AS (
         |  SELECT tf.doc_id, tf.term, tf.tf,
         |    CAST(ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfq.n_docs_term + 1)), 4)
         |      AS DOUBLE) AS tfidf
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
         |r AS (
         |  SELECT doc_id, term, tf, tfidf, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
         |  FROM sc)
         |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, tfidf
         |FROM r WHERE rank <= 3""".stripMargin,

    // gram identity is the 4-gram STRING here vs xxhash64 in Spark —
    // counts agree unless a 64-bit collision (~1e-16)
    "corpus_boilerplate" ->
      s"""WITH t AS ($toksCte),
         |g AS (
         |  SELECT doc_id,
         |    len(list_distinct([array_to_string(w[i:i+3], ' ') for i in range(1, len(w)-2)])) AS n_grams,
         |    unnest(list_distinct([array_to_string(w[i:i+3], ' ') for i in range(1, len(w)-2)])) AS gram
         |  FROM t WHERE len(w) >= 4),
         |hot AS (
         |  SELECT gram FROM (SELECT gram, COUNT(*) AS df FROM g GROUP BY 1)
         |  WHERE df >= 3)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler_grams,
         |  CAST(ROUND(COUNT(*) / CAST(ANY_VALUE(n_grams) AS DOUBLE), 4) AS DOUBLE) AS boiler_ratio
         |FROM g JOIN hot USING (gram) GROUP BY doc_id""".stripMargin,

    "corpus_lm_score" ->
      s"""WITH t AS ($toksCte),
         |tk AS (SELECT doc_id, unnest(w) AS term FROM t WHERE len(w) > 0),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tk GROUP BY 1, 2),
         |lm AS (SELECT term, SUM(tf) AS ctf FROM tf GROUP BY 1),
         |tot AS (SELECT SUM(ctf) AS total_tok FROM lm)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
         |  CAST(ROUND(CAST(SUM(lp * tf) AS DOUBLE) / SUM(tf), 4) AS DOUBLE) AS lm_score
         |FROM (SELECT tf.doc_id, tf.tf,
         |        CAST(ROUND(LN(CAST(ctf AS DOUBLE) / total_tok), 6) AS DECIMAL(18,6)) AS lp
         |      FROM tf JOIN lm USING (term) CROSS JOIN tot)
         |GROUP BY doc_id""".stripMargin,

    "corpus_sample" ->
      """SELECT lang, CAST(rn AS INT) AS sample_rank, doc_id
        |FROM (SELECT lang, doc_id, row_number() OVER (
        |        PARTITION BY lang
        |        ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)) ASC,
        |                 doc_id ASC) AS rn
        |      FROM documents)
        |WHERE rn <= 20""".stripMargin,

    "corpus_weighted_sample" ->
      """WITH m AS (SELECT MAX(CAST(n_chars AS DOUBLE)) AS wmax
        |           FROM documents WHERE CAST(n_chars AS DOUBLE) > 0)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
        |  MIN(doc_id) AS first_doc
        |FROM documents, m
        |WHERE CAST(n_chars AS DOUBLE) > 0
        |  AND ('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
        |         1, 8))::BIGINT / 4294967296.0
        |      < CAST(n_chars AS DOUBLE) / wmax
        |GROUP BY source""".stripMargin,

    "corpus_split" ->
      """WITH s AS (SELECT lang, n_chars,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM (SELECT lang, n_chars,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::BIGINT % 100 AS b FROM documents))
        |SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM s GROUP BY lang, split""".stripMargin,

    // score formula copied verbatim from the text_quality oracle (the
    // cross-engine-pinned form); threshold = quantile_cont per lang,
    // the same interpolated statistic Percentile.binned computes
    "corpus_quality_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text,
         |    list_filter(string_split(lower(text),' '), x -> x<>'') AS w
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, lang,
         |    CAST(len(w) AS INT) AS n_tokens,
         |    CAST(length(text) AS INT) AS n_chars,
         |    CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(len(list_filter(w, t2 -> list_contains([${enStopList}], t2))) AS DOUBLE) AS hits_en
         |  FROM t),
         |sc AS (
         |  SELECT doc_id, lang,
         |    CAST(ROUND(LEAST(1.0, n_tokens/50.0)*0.5 + (1.0 - punct/n_chars)*0.3
         |      + LEAST(1.0, (hits_en/n_tokens)*5.0)*0.2, 4) AS DOUBLE) AS score
         |  FROM m),
         |thr AS (
         |  SELECT lang, CAST(ROUND(quantile_cont(score, 0.25), 6) AS DOUBLE)
         |    AS q_threshold
         |  FROM sc GROUP BY lang)
         |SELECT sc.doc_id, sc.lang, sc.score, thr.q_threshold
         |FROM sc JOIN thr USING (lang)
         |WHERE sc.score >= thr.q_threshold""".stripMargin,

    // same md5-60-bit offsets mod len+1, same PSM assembly
    "corpus_fim_split" ->
      """WITH b AS (
        |  SELECT doc_id, text AS t, length(text) AS len,
        |    CAST(('0x'||substr(md5('graft-fim1:'||CAST(doc_id AS VARCHAR)),1,15))::UBIGINT
        |      % (length(text) + 1) AS BIGINT) AS h1,
        |    CAST(('0x'||substr(md5('graft-fim2:'||CAST(doc_id AS VARCHAR)),1,15))::UBIGINT
        |      % (length(text) + 1) AS BIGINT) AS h2
        |  FROM documents),
        |c AS (SELECT doc_id, t, len,
        |  CAST(LEAST(h1, h2) AS INT) AS lo, CAST(GREATEST(h1, h2) AS INT) AS hi
        |  FROM b)
        |SELECT doc_id, CAST(len AS INT) AS n_chars, lo AS p1, hi AS p2,
        |  '<PRE>' || substr(t, 1, lo) || '<SUF>' || substr(t, hi + 1, len - hi)
        |    || '<MID>' || substr(t, lo + 1, hi - lo) AS fim
        |FROM c""".stripMargin,

    // the quality_filter score body + two rank windows and the
    // quarter-budget join; rank INT both sides
    "corpus_contrastive_pairs" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text,
         |    list_filter(string_split(lower(text),' '), x -> x<>'') AS w
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, lang,
         |    CAST(len(w) AS INT) AS n_tokens,
         |    CAST(length(text) AS INT) AS n_chars,
         |    CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(len(list_filter(w, t2 -> list_contains([${enStopList}], t2))) AS DOUBLE) AS hits_en
         |  FROM t),
         |sc AS (
         |  SELECT doc_id, lang,
         |    CAST(ROUND(LEAST(1.0, n_tokens/50.0)*0.5 + (1.0 - punct/n_chars)*0.3
         |      + LEAST(1.0, (hits_en/n_tokens)*5.0)*0.2, 4) AS DOUBLE) AS score
         |  FROM m),
         |n AS (SELECT lang, CAST(COUNT(*) // 4 AS BIGINT) AS n_pairs
         |  FROM sc GROUP BY 1),
         |hi AS (
         |  SELECT lang, ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY score DESC, doc_id ASC) AS rank,
         |    doc_id AS pos_id, score AS pos_score
         |  FROM sc),
         |lo AS (
         |  SELECT lang, ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY score ASC, doc_id DESC) AS rank,
         |    doc_id AS neg_id, score AS neg_score
         |  FROM sc)
         |SELECT hi.lang, CAST(hi.rank AS INT) AS rank, pos_id, pos_score,
         |  neg_id, neg_score
         |FROM hi JOIN lo USING (lang, rank) JOIN n USING (lang)
         |WHERE hi.rank <= n_pairs""".stripMargin,

    // formula text kept literally identical to Corpus.bm25 (constants
    // included) so both engines evaluate the same IEEE expression
    // before the ROUND(…, 6) → DECIMAL summation
    // phrase occurrences by direct list scan (vs the engine's postings
    // joins); first_pos converted to the engine's 0-based positions
    "corpus_phrase_search" ->
      s"""WITH t AS ($toksCte),
         |m AS (
         |  SELECT doc_id, [i for i in range(1, len(w)-1)
         |    if w[i]='slow' and w[i+1]='hash' and w[i+2]='batch'] AS hits
         |  FROM t)
         |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_hits,
         |  CAST(hits[1]-1 AS INT) AS first_pos
         |FROM m WHERE len(hits) > 0""".stripMargin,

    "corpus_bm25" ->
      s"""WITH t AS ($toksCte),
         |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t WHERE len(w) > 0),
         |s AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl FROM d),
         |tfc AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(w) AS term FROM t)
         |  WHERE term IN ('vector', 'stream', 'hash') GROUP BY 1, 2),
         |dfq AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
         |con AS (
         |  SELECT doc_id, CAST(ROUND(
         |    LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |    (tf * (1.2 + 1.0)) /
         |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(tot_dl AS DOUBLE) / n_docs))),
         |  6) AS DECIMAL(18,6)) AS contrib
         |  FROM tfc JOIN dfq USING (term) JOIN d USING (doc_id) CROSS JOIN s),
         |sc AS (
         |  SELECT doc_id, CAST(ROUND(CAST(SUM(contrib) AS DOUBLE), 4) AS DOUBLE) AS bm25
         |  FROM con GROUP BY doc_id)
         |SELECT CAST(ROW_NUMBER() OVER w AS INT) AS rank, doc_id, bm25
         |FROM sc WINDOW w AS (ORDER BY bm25 DESC, doc_id)
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    // same md5-60-bit hash family as the simhash oracle; dim = h mod
    // dim, sign = bit 12 (above the max dim 4096, so never part of the
    // dimension residue)
    "corpus_hash_embed" ->
      s"""WITH t AS ($toksCte),
         |tk AS (SELECT doc_id, unnest(w) AS tok FROM t),
         |h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::UBIGINT AS h FROM tk)
         |SELECT doc_id, CAST(h % 64 AS INT) AS dim,
         |  CAST(SUM(CASE WHEN ((h >> 12) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
         |FROM h GROUP BY 1, 2
         |HAVING SUM(CASE WHEN ((h >> 12) & 1) = 1 THEN 1 ELSE -1 END) <> 0""".stripMargin,

    // same md5 consumption order, same cumulative-fit rule
    "corpus_token_budget" ->
      s"""WITH t AS ($toksCte),
         |d AS (
         |  SELECT doc_id, lang FROM documents),
         |r AS (
         |  SELECT t.doc_id, d.lang, CAST(len(w) AS BIGINT) AS n_tok,
         |    md5('graft-budget:' || CAST(t.doc_id AS VARCHAR)) AS ord
         |  FROM t JOIN d USING (doc_id)),
         |b AS (SELECT * FROM (VALUES
         |  ('en', 5000), ('es', 2000), ('fr', 1500), ('de', 1000),
         |  ('zh', 500)) v(lang, budget)),
         |c AS (
         |  SELECT r.doc_id, r.lang, r.n_tok, b.budget,
         |    SUM(r.n_tok) OVER (PARTITION BY r.lang
         |      ORDER BY r.ord ASC, r.doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum_tok
         |  FROM r JOIN b USING (lang))
         |SELECT doc_id, lang, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
         |FROM c WHERE cum_tok <= budget""".stripMargin,

    // the bm25 oracle body at LIMIT 50 + the hash-embed oracle body on
    // both corpus and query side, fused by the same double-precision
    // 1/(60+rank) sums; ranks and the final cut tie-break on doc_id
    "corpus_hybrid_rrf" ->
      s"""WITH t AS ($toksCte),
         |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t WHERE len(w) > 0),
         |s AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl FROM d),
         |tfc AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(w) AS term FROM t)
         |  WHERE term IN ('vector', 'stream', 'hash') GROUP BY 1, 2),
         |dfq AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
         |con AS (
         |  SELECT doc_id, CAST(ROUND(
         |    LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |    (tf * (1.2 + 1.0)) /
         |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(tot_dl AS DOUBLE) / n_docs))),
         |  6) AS DECIMAL(18,6)) AS contrib
         |  FROM tfc JOIN dfq USING (term) JOIN d USING (doc_id) CROSS JOIN s),
         |sc AS (
         |  SELECT doc_id, CAST(ROUND(CAST(SUM(contrib) AS DOUBLE), 4) AS DOUBLE) AS bm25
         |  FROM con GROUP BY doc_id),
         |lex AS (
         |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS bm25_rank
         |  FROM sc ORDER BY bm25 DESC, doc_id LIMIT 50),
         |tk AS (SELECT doc_id, unnest(w) AS tok FROM t),
         |h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,15))::UBIGINT AS h FROM tk),
         |emb AS (
         |  SELECT doc_id, CAST(h % 64 AS INT) AS dim,
         |    CAST(SUM(CASE WHEN ((h >> 12) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
         |  FROM h GROUP BY 1, 2
         |  HAVING SUM(CASE WHEN ((h >> 12) & 1) = 1 THEN 1 ELSE -1 END) <> 0),
         |qh AS (SELECT ('0x'||substr(md5(tok),1,15))::UBIGINT AS h
         |  FROM (SELECT unnest(['vector', 'stream', 'hash']) AS tok)),
         |qv AS (
         |  SELECT CAST(h % 64 AS INT) AS dim,
         |    CAST(SUM(CASE WHEN ((h >> 12) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS qv
         |  FROM qh GROUP BY 1
         |  HAVING SUM(CASE WHEN ((h >> 12) & 1) = 1 THEN 1 ELSE -1 END) <> 0),
         |qn AS (SELECT SQRT(CAST(SUM(qv * qv) AS DOUBLE)) AS qn FROM qv),
         |nn AS (SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS nn FROM emb GROUP BY 1),
         |nm AS (SELECT e.doc_id, CAST(SUM(e.v * q.qv) AS BIGINT) AS num
         |  FROM emb e JOIN qv q USING (dim) GROUP BY 1),
         |cosd AS (
         |  SELECT nm.doc_id, CAST(ROUND(
         |    CAST(num AS DOUBLE) / (SQRT(CAST(nn AS DOUBLE)) * qn), 6) AS DOUBLE) AS cos
         |  FROM nm JOIN nn USING (doc_id) CROSS JOIN qn),
         |dense AS (
         |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT) AS cos_rank
         |  FROM cosd WHERE cos > 0 ORDER BY cos DESC, doc_id LIMIT 50),
         |fu AS (
         |  SELECT doc_id, bm25_rank, cos_rank,
         |    CAST(ROUND(
         |      COALESCE(CAST(1.0 AS DOUBLE) / (60 + bm25_rank), CAST(0.0 AS DOUBLE)) +
         |      COALESCE(CAST(1.0 AS DOUBLE) / (60 + cos_rank), CAST(0.0 AS DOUBLE)), 6) AS DOUBLE) AS rrf
         |  FROM lex FULL OUTER JOIN dense USING (doc_id))
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank,
         |  doc_id, rrf, bm25_rank, cos_rank
         |FROM fu ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "corpus_perplexity" -> perplexityOracle,

    // interpolated KN off the same bigram-type tables; every factor
    // forced DOUBLE before the formula so neither engine's decimal
    // division path runs (Spark decimal/long and DuckDB decimal '/'
    // disagree below ROUND-6 otherwise)
    "corpus_perplexity_kn" ->
      s"""WITH t AS ($toksCte),
         |bg AS (
         |  SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
         |  FROM t WHERE len(w) >= 2),
         |dtf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
         |c2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2 FROM dtf GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
         |  CAST(COUNT(*) AS BIGINT) AS n1f FROM c2 GROUP BY 1),
         |nb AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM c2 GROUP BY 1),
         |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM c2),
         |nl AS (
         |  SELECT doc_id, tf, CAST(ROUND(-LN(
         |    GREATEST(CAST(c2 AS DOUBLE) - CAST(0.75 AS DOUBLE),
         |      CAST(0.0 AS DOUBLE)) / c1 +
         |    (CAST(0.75 AS DOUBLE) * n1f / c1) * (CAST(n1b AS DOUBLE) / tt)
         |  ), 6) AS DECIMAL(18,6)) AS nl
         |  FROM dtf JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
         |    JOIN nb USING (w2) CROSS JOIN tt)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         |  CAST(ROUND(CAST(SUM(nl * tf) AS DOUBLE) / SUM(tf), 4) AS DOUBLE) AS nll
         |FROM nl GROUP BY doc_id""".stripMargin,

    // same count table, same TakeOrdered cut, cumulative over the
    // top-k survivors only
    "corpus_zipf" ->
      s"""WITH t AS ($toksCte),
         |tc AS (SELECT tok AS term, COUNT(*) AS n
         |  FROM (SELECT unnest(w) AS tok FROM t) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM tc),
         |top AS (SELECT term, CAST(n AS BIGINT) AS n FROM tc
         |  ORDER BY n DESC, term LIMIT 100),
         |c AS (
         |  SELECT CAST(ROW_NUMBER() OVER w AS INT) AS rank, term, n,
         |    SUM(n) OVER (ORDER BY n DESC, term ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM top WINDOW w AS (ORDER BY n DESC, term))
         |SELECT rank, term, n,
         |  CAST(ROUND(CAST(cum AS DOUBLE) / tot, 6) AS DOUBLE) AS cum_frac
         |FROM c CROSS JOIN tot""".stripMargin,

    // per-language NLL tertiles over the same perplexity body — CCNet's
    // head/middle/tail split (NTILE over a TOTAL order: nll, doc_id)
    "corpus_ccnet_bucket" ->
      s"""WITH px AS (SELECT doc_id, nll FROM ($perplexityOracle)),
         |j AS (SELECT p.doc_id, d.lang, p.nll
         |  FROM px p JOIN documents d USING (doc_id)),
         |t AS (SELECT doc_id, lang, nll,
         |  NTILE(3) OVER (PARTITION BY lang ORDER BY nll ASC, doc_id ASC) AS tr
         |  FROM j)
         |SELECT doc_id, lang, nll,
         |  CASE tr WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM t""".stripMargin,

    "corpus_bpe_pairs" ->
      s"""WITH t AS ($toksCte),
         |tc AS (
         |  SELECT term, COUNT(*) AS ctf FROM (SELECT unnest(w) AS term FROM t)
         |  GROUP BY 1),
         |pr AS (
         |  SELECT pair, CAST(SUM(ctf) AS BIGINT) AS n FROM (
         |    SELECT ctf, unnest([substr(term, i, 2) for i in range(1, length(term))]) AS pair
         |    FROM tc WHERE length(term) >= 2)
         |  GROUP BY 1)
         |SELECT CAST(ROW_NUMBER() OVER w AS INT) AS rank, pair, n
         |FROM pr WINDOW w AS (ORDER BY n DESC, pair)
         |ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    "corpus_bpe_encode" ->
      s"""WITH t AS ($toksCte),
         |tc AS (
         |  SELECT term, COUNT(*) AS ctf FROM (SELECT unnest(w) AS term FROM t)
         |  GROUP BY 1),
         |enc AS (
         |  SELECT term, ctf, $bpeReplaceChain AS e FROM tc)
         |SELECT CAST(ROW_NUMBER() OVER win AS INT) AS rank, term,
         |  CAST(ctf AS BIGINT) AS ctf, substr(e, 2) AS pieces,
         |  CAST(length(e) - length(replace(e, ' ', '')) AS INT) AS n_pieces
         |FROM enc WINDOW win AS (ORDER BY ctf DESC, term)
         |ORDER BY ctf DESC, term LIMIT 200""".stripMargin,

    "corpus_bpe_train" -> bpeTrainSql(8),

    // gopher pass (minWords=20) → min-id-per-md5 dedup → the BPE pack
    // arithmetic over the survivors — stage for stage the engine chain
    "corpus_pipeline_v2" ->
      s"""WITH g0 AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS w2,
         |    string_split(text, chr(10)) AS lines
         |  FROM documents),
         |gm AS (
         |  SELECT doc_id, text,
         |    CAST(len(w2) AS INT) AS n_words,
         |    CAST(ROUND(CAST(list_sum(list_transform(w2, x -> len(x))) AS DOUBLE)
         |      / NULLIF(len(w2), 0), 4) AS DOUBLE) AS mean_wlen,
         |    CAST(ROUND((
         |        (length(text) - length(replace(text, '#', '')))
         |        + (length(text) - length(replace(text, '...', ''))) / 3
         |      ) / CAST(NULLIF(len(w2), 0) AS DOUBLE), 4) AS DOUBLE) AS symbol_ratio,
         |    CAST(ROUND(CAST(len(list_filter(lines,
         |        l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'
         |          OR ltrim(l) LIKE '•%')) AS DOUBLE)
         |      / NULLIF(len(lines), 0), 4) AS DOUBLE) AS bullet_frac,
         |    CAST(ROUND(CAST(len(list_filter(lines,
         |        l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS DOUBLE)
         |      / NULLIF(len(lines), 0), 4) AS DOUBLE) AS ellipsis_frac,
         |    CAST(ROUND(CAST(len(list_filter(w2, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
         |      / NULLIF(len(w2), 0), 4) AS DOUBLE) AS alpha_frac,
         |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
         |      s2 -> list_contains(w2, s2))) AS INT) AS stop_hits
         |  FROM g0),
         |cl AS (
         |  SELECT doc_id, text FROM gm
         |  WHERE n_words >= 20 AND mean_wlen >= 3.0
         |    AND symbol_ratio < 0.1 AND alpha_frac >= 0.8),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM cl GROUP BY md5(text)),
         |kept AS (SELECT cl.doc_id, cl.text FROM cl JOIN keep USING (doc_id)),
         |t AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x<>'') AS w FROM kept),
         |tc AS (SELECT DISTINCT term FROM (SELECT unnest(w) AS term FROM t)),
         |enc AS (
         |  SELECT term, CAST(length(e) - length(replace(e, ' ', '')) AS BIGINT) AS np
         |  FROM (SELECT term, $bpeReplaceChain AS e FROM tc) z),
         |tk AS (SELECT doc_id, unnest(w) AS term FROM t),
         |dc AS (SELECT doc_id, SUM(np) AS n_tok
         |  FROM tk JOIN enc USING (term) GROUP BY doc_id),
         |s AS (
         |  SELECT doc_id, n_tok,
         |    CAST(('0x'||substr(md5('pack:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 8 AS INT) AS shard
         |  FROM dc WHERE n_tok > 0),
         |c AS (
         |  SELECT shard, doc_id, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM s)
         |SELECT shard, CAST(FLOOR((cum - n_tok)/512.0) AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS tokens_packed,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
         |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
         |FROM c GROUP BY shard, bin""".stripMargin,

    // per-doc BPE piece counts via the same replace chain as
    // corpus_bpe_encode (generated from the SAME merge table), then
    // the corpus_pack cum/bin arithmetic
    "corpus_pack_bpe" ->
      s"""WITH t AS ($toksCte),
         |tc AS (SELECT DISTINCT term FROM (SELECT unnest(w) AS term FROM t)),
         |enc AS (
         |  SELECT term, CAST(length(e) - length(replace(e, ' ', '')) AS BIGINT) AS np
         |  FROM (SELECT term, $bpeReplaceChain AS e FROM tc) z),
         |tk AS (SELECT doc_id, unnest(w) AS term FROM t),
         |dc AS (SELECT doc_id, SUM(np) AS n_tok
         |  FROM tk JOIN enc USING (term) GROUP BY doc_id),
         |s AS (
         |  SELECT doc_id, n_tok,
         |    CAST(('0x'||substr(md5('pack:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 8 AS INT) AS shard
         |  FROM dc WHERE n_tok > 0),
         |c AS (
         |  SELECT shard, doc_id, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM s)
         |SELECT shard, CAST(FLOOR((cum - n_tok)/512.0) AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS tokens_packed,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
         |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
         |FROM c GROUP BY shard, bin""".stripMargin,

    // the same replace-chain piece counts rolled up per language;
    // fertility = pieces·1e6 // words (exact integer ppm)
    "corpus_fertility" ->
      s"""WITH t AS ($toksCte),
         |tc AS (SELECT DISTINCT term FROM (SELECT unnest(w) AS term FROM t)),
         |enc AS (
         |  SELECT term, CAST(length(e) - length(replace(e, ' ', '')) AS BIGINT) AS np
         |  FROM (SELECT term, $bpeReplaceChain AS e FROM tc) z),
         |tk AS (SELECT doc_id, unnest(w) AS term FROM t),
         |dc AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(np) AS BIGINT) AS n_pieces
         |  FROM tk JOIN enc USING (term) GROUP BY doc_id),
         |j AS (SELECT d.lang, dc.n_words, dc.n_pieces
         |  FROM dc JOIN documents d USING (doc_id))
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(SUM(n_pieces) * 1000000 // SUM(n_words) AS BIGINT) AS fertility_ppm
         |FROM j GROUP BY 1""".stripMargin,

    // same md5-uniform (h+1)/(2^32+1) draw, same round-9 ln(u)/w keys,
    // same (key DESC, id) order — mirrors Corpus.sampleWeightedK
    "corpus_weighted_topk" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
        |    CAST(ROUND(
        |      ln((('0x'||substr(md5('wsk:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT + 1.0)
        |         / 4294967297.0) / CAST(length(text) AS DOUBLE),
        |    9) AS DOUBLE) AS sample_key
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, w, sample_key FROM t
        |ORDER BY sample_key DESC, doc_id LIMIT 50""".stripMargin,

    // hashed (unigram + bigram) features into 64 md5 buckets; add-1
    // smoothed ln-ratio ROUNDed to 6 then DECIMAL(38,6)-summed per doc
    // (the lm_score exactness discipline)
    "corpus_dsir" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x<>'') AS w FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    ('0x'||substr(md5('bench:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 5 AS bench,
        |    ('0x'||substr(md5('dsir:'||gram),1,8))::BIGINT % 64 AS f
        |  FROM (SELECT doc_id,
        |      unnest(w || [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS gram
        |    FROM t) z),
        |ft AS (SELECT f, COUNT(*) AS ct FROM g WHERE bench GROUP BY f),
        |fr AS (SELECT f, COUNT(*) AS cr FROM g WHERE NOT bench GROUP BY f),
        |base AS (
        |  SELECT r.f, COALESCE(ft.ct, 0) AS ct, COALESCE(fr.cr, 0) AS cr
        |  FROM range(0, 64) r(f)
        |  LEFT JOIN ft ON ft.f = r.f LEFT JOIN fr ON fr.f = r.f),
        |tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM base),
        |lr AS (
        |  SELECT f, CAST(ROUND(
        |      ln((ct + 1.0) / ((SELECT tt FROM tot) + 64))
        |      - ln((cr + 1.0) / ((SELECT tr FROM tot) + 64)), 6) AS DOUBLE) AS lr
        |  FROM base)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CAST(lr AS DECIMAL(38,6))) AS DOUBLE) AS dsir_score
        |FROM g JOIN lr USING (f)
        |WHERE NOT bench
        |GROUP BY doc_id""".stripMargin,

    // cross-side minhash band join (dedup_delta's sketch arithmetic),
    // bench split by the same md5 bucket, aggregated per corpus doc
    "corpus_decontaminate_fuzzy" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x<>'') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS shingles
        |  FROM toks WHERE len(w) >= 3),
        |sig AS (
        |  SELECT doc_id, [list_min([md5(CAST(p AS VARCHAR)||':'||s) for s in shingles]) for p in range(0,16)] AS sig FROM sh),
        |lab AS (
        |  SELECT doc_id, sig, ('0x'||substr(md5('bench:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 < 5 AS bench FROM sig),
        |bands AS (
        |  SELECT doc_id, sig, bench, b, md5(sig[4*b+1]||sig[4*b+2]||sig[4*b+3]||sig[4*b+4]) AS bh
        |  FROM lab, range(0,4) t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_of, a.sig AS sig_a, b.sig AS sig_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND NOT a.bench AND b.bench),
        |f AS (
        |  SELECT doc_id, dup_of,
        |    CAST(ROUND(list_sum([CASE WHEN sig_a[i+1]=sig_b[i+1] THEN 1 ELSE 0 END for i in range(0,16)])/16.0, 4) AS DOUBLE) AS est_jaccard
        |  FROM cand
        |  WHERE list_sum([CASE WHEN sig_a[i+1]=sig_b[i+1] THEN 1 ELSE 0 END for i in range(0,16)]) >= 6)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_matches,
        |  MAX(est_jaccard) AS max_est_jaccard,
        |  CAST(MIN(dup_of) AS BIGINT) AS first_bench_match
        |FROM f GROUP BY doc_id""".stripMargin,

    "corpus_shards" ->
      s"""WITH t AS ($toksCte)
         |SELECT
         |  CAST(('0x'||substr(md5('shard:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 16 AS INT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(w)) AS BIGINT) AS tokens,
         |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
         |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
         |FROM t GROUP BY 1""".stripMargin,

    // same md5 cut/length arithmetic; 1-based inclusive list slices;
    // COALESCE because DuckDB's array_to_string([]) is NULL (casebook)
    "corpus_span_corruption" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x<>'') AS w FROM documents),
        |b AS (
        |  SELECT doc_id, w, len(w) AS n,
        |    ('0x'||substr(md5('graft-span1:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % (len(w)+1) AS c1,
        |    ('0x'||substr(md5('graft-span2:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % (len(w)+1) AS c2,
        |    1 + ('0x'||substr(md5('graft-span3:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 3 AS r1,
        |    1 + ('0x'||substr(md5('graft-span4:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 3 AS r2
        |  FROM t WHERE len(w) >= 2),
        |c AS (
        |  SELECT doc_id, w, n,
        |    LEAST(c1, c2) AS lo, GREATEST(c1, c2) AS hi,
        |    LEAST(r1, GREATEST(c1, c2) - LEAST(c1, c2)) AS l1,
        |    LEAST(r2, n - GREATEST(c1, c2)) AS l2
        |  FROM b)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(lo AS INT) AS s1, CAST(l1 AS INT) AS l1,
        |  CAST(hi AS INT) AS s2, CAST(l2 AS INT) AS l2,
        |  COALESCE(array_to_string(w[1:lo], ' '), '') || ' <X> ' ||
        |    COALESCE(array_to_string(w[lo+l1+1:hi], ' '), '') || ' <Y> ' ||
        |    COALESCE(array_to_string(w[hi+l2+1:n], ' '), '') AS src,
        |  '<X> ' || COALESCE(array_to_string(w[lo+1:lo+l1], ' '), '')
        |    || ' <Y> ' ||
        |    COALESCE(array_to_string(w[hi+1:hi+l2], ' '), '') AS tgt
        |FROM c""".stripMargin,

    // pow/÷ are irrational-valued (rounding-casebook-safe to round);
    // DOUBLE literals forced so both engines take the double path
    "corpus_temperature_mix" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(SUM(len(list_filter(string_split(lower(text),' '), x -> x<>''))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT lang, n_tok,
        |    POW(CAST(n_tok AS DOUBLE), CAST(0.5 AS DOUBLE)) AS wr
        |  FROM t),
        |s AS (SELECT SUM(wr) AS tot FROM w)
        |SELECT lang, n_tok,
        |  CAST(ROUND(wr / tot, 6) AS DOUBLE) AS weight_r,
        |  CAST(ROUND(LEAST(CAST(1.0 AS DOUBLE),
        |    100000 * (wr / tot) / n_tok), 6) AS DOUBLE) AS rate_r
        |FROM w CROSS JOIN s""".stripMargin,

    // the seeded md5 rank and per-shard row_number reproduce the
    // training-order permutation byte-for-byte; the shard salt is
    // UNSEEDED (epoch-stable shards — only the rank reseeds)
    "corpus_shuffle" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(('0x'||substr(md5('shard:'||CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 16 AS INT) AS shard,
        |    md5('shuffle:ep1:'||CAST(doc_id AS VARCHAR)) AS rank
        |  FROM documents)
        |SELECT doc_id, shard, rank,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rank ASC, doc_id ASC) AS INT) AS pos
        |FROM s""".stripMargin
  )
}
