package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Repetition-based quality signals — the Gopher-rules family: highly
  * repetitive documents (boilerplate, keyword stuffing, templated spam)
  * are filtered from training corpora by thresholds over per-doc
  * repetition fractions. Line/paragraph variants collapse to these
  * token/bigram forms on single-line documents.
  *
  * Per document: token count, duplicate-token fraction
  * (1 − distinct/total), most-frequent-bigram count and fraction of
  * all bigrams, and the longest same-token run.
  *
  * Scale shape: the duplicate fraction is row-local; bigram stats are
  * a (doc, bigram) count aggregate — shuffle keys are doc-local, so
  * partitions stay balanced regardless of corpus size; the run length
  * uses the gaps-and-islands window per (doc, token), again doc-local
  * keys. Nothing global, nothing driver-side; document text itself
  * never shuffles (bigram rows carry the doc id + the gram).
  */
object TextStats {
  /** (doc_id, lang, score): the composite quality score of the
    * `text_quality` surface — length term + punctuation term + stopword
    * term, rounded to 4 — with the language carried through so
    * per-language curation ([[Corpus.qualityGate]]) can group on it.
    * All row-local, zero shuffle. */
  def qualityScored(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        col(textCol).as("text"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("lang"),
        expr("size(toks)").as("n_tokens"),
        expr("length(text)").as("n_chars"),
        expr("length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', ''))")
          .as("punct"),
        TextAnalysis.stopwordHits("toks", "en").as("hits_en"))
      .select(col("doc_id"), col("lang"),
        expr("""CAST(ROUND(
            LEAST(1.0, n_tokens/50.0)*0.5
            + (1.0 - CAST(punct AS DOUBLE) / n_chars)*0.3
            + LEAST(1.0, (CAST(hits_en AS DOUBLE) / n_tokens)*5.0)*0.2,
          4) AS DOUBLE)""").as("score"))

  /** The composite Gopher quality-rule battery (Rae et al. 2021, §A1.1
    * "quality filtering"): per document, every rule's metric plus its
    * boolean verdict and the conjunction `pass` — the standard
    * pre-training heuristic filter. Rules:
    *  - word count in [minWords, maxWords];
    *  - mean word length in [3, 10] characters;
    *  - symbol-to-word ratio (# chars + '...' occurrences) < 0.1;
    *  - ≤ 90% of lines start with a bullet ('-', '*', '•');
    *  - ≤ 30% of lines end with an ellipsis ('...' or '…');
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - at least 2 distinct hits from the 8-word required-stopword
    *    list (the, be, to, of, and, that, have, with).
    *
    * Entirely row-local codegen'd expressions — zero shuffle, O(doc
    * length) per row, embarrassingly parallel at corpus scale. Ratios
    * are NULL (and `pass` NULL) on empty inputs via NULLIF, identical
    * on any engine. Metric doubles round to 4 before the threshold
    * compare so verdicts can't flip on last-ulp engine differences. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        TextAnalysis.tokens(col(textCol)).as("w"),
        expr(s"split($textCol, '\n')").as("lines"))
      .select(col("doc_id"),
        expr("CAST(size(w) AS INT)").as("n_words"),
        expr("""CAST(ROUND(CAST(aggregate(w, 0, (a, x) -> a + length(x)) AS DOUBLE)
            / NULLIF(size(w), 0), 4) AS DOUBLE)""").as("mean_wlen"),
        expr("""CAST(ROUND((
              (length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) / 3
            ) / CAST(NULLIF(size(w), 0) AS DOUBLE), 4) AS DOUBLE)""")
          .as("symbol_ratio"),
        expr("""CAST(ROUND(CAST(size(filter(lines,
              l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'
                OR ltrim(l) LIKE '•%')) AS DOUBLE)
            / NULLIF(size(lines), 0), 4) AS DOUBLE)""").as("bullet_frac"),
        expr("""CAST(ROUND(CAST(size(filter(lines,
              l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS DOUBLE)
            / NULLIF(size(lines), 0), 4) AS DOUBLE)""").as("ellipsis_frac"),
        expr("""CAST(ROUND(CAST(size(filter(w, x -> x RLIKE '[a-z]')) AS DOUBLE)
            / NULLIF(size(w), 0), 4) AS DOUBLE)""").as("alpha_frac"),
        expr("""CAST(size(filter(
              array('the','be','to','of','and','that','have','with'),
              s -> array_contains(w, s))) AS INT)""").as("stop_hits"))
      .withColumn("pass",
        col("n_words") >= minWords and col("n_words") <= maxWords and
        col("mean_wlen") >= 3.0 and col("mean_wlen") <= 10.0 and
        col("symbol_ratio") < 0.1 and
        col("bullet_frac") <= 0.9 and col("ellipsis_frac") <= 0.3 and
        col("alpha_frac") >= 0.8 and col("stop_hits") >= 2)

  /** Flesch reading-ease per document with a deterministic syllable
    * proxy: vowel-group runs (`[aeiouy]+`) per token, min 1 — the
    * engine-portable stand-in for dictionary syllabification.
    * Sentences = terminal-punctuation runs (`[.!?]+`, min 1) so an
    * ellipsis counts once. flesch = 206.835 − 1.015·(words/sentences)
    * − 84.6·(syllables/words), rounded to 4 (the raw counts ride along
    * exact, so consumers can re-derive at any precision). Entirely
    * row-local codegen'd expressions — zero shuffle, O(doc length) per
    * row; empty docs drop rather than emit a degenerate score. */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        TextAnalysis.tokens(col(textCol)).as("w"))
      .where(size(col("w")) > 0)
      .select(col("doc_id"),
        expr("CAST(size(w) AS BIGINT)").as("n_words"),
        expr("""CAST(GREATEST(size(regexp_extract_all(text, '[.!?]+', 0)), 1)
            AS BIGINT)""").as("n_sentences"),
        expr("""CAST(aggregate(w, 0L, (a, x) ->
            a + BIGINT(GREATEST(size(regexp_extract_all(x, '[aeiouy]+', 0)), 1)))
            AS BIGINT)""").as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        expr("""CAST(ROUND(CAST(206.835 AS DOUBLE)
            - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sentences)
            - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / n_words),
          4) AS DOUBLE)""").as("flesch"))

  /** Character-level Shannon entropy per document — the cheap
    * randomness/degeneracy signal: near-zero entropy flags repeated-
    * character junk ("aaaa…"), implausibly high entropy flags
    * base64/hex blobs and binary spill; natural prose sits in a stable
    * mid band. Computed as `ln(n) − (Σ c_i·ln c_i)/n` over per-char
    * counts c_i (algebraically identical to −Σ p·ln p but every term
    * is count-scaled), with ln ROUNDed to 6 and multiplied by the
    * EXACT integer count into a DECIMAL(38,6) sum — the lm_score
    * discipline, so the result is identical under any partitioning or
    * engine. Plan: chars explode row-locally, the only shuffle keys
    * are (doc_id, char) then doc_id — doc-local, balanced at any
    * corpus size. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // the per-code-point counting and the c·round(ln c, 6) decimal fold
    // run ROW-LOCALLY in one native kernel call per doc
    // ([[graft.plans.Sketches.charEntropyStats]] carries the
    // bit-equality contract vs the former per-char explode + two
    // keyed aggregates, which shuffled one row per CHARACTER — 12.5M
    // rows at sf0.1); the final entropy expression is unchanged
    df.where(length(col(textCol)) >= 1) // empty doc contract: NO row
      .select(col(idCol).as("doc_id"),
        graft.plans.GraftFunctions.charEntropyStats(df.sparkSession,
          col(textCol)).as("st"))
      .select(col("doc_id"), col("st.n").as("n_chars"),
        col("st.nd").as("n_distinct_chars"),
        expr("""CAST(ROUND(
            LN(CAST(st.n AS DOUBLE)) - CAST(st.s AS DOUBLE) / st.n,
          4) AS DOUBLE)""").as("entropy"))

  def repetitionSignals(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = df
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("w"))
      .where(size(col("w")) > 0)

    val base = t.select(col("doc_id"),
      size(col("w")).as("n_tokens"),
      expr("""CAST(ROUND(1.0 - CAST(size(array_distinct(w)) AS DOUBLE)
              | / size(w), 4) AS DOUBLE)""".stripMargin)
        .as("dup_word_frac"),
      col("w"))

    // bigram multiset per doc (transform keeps duplicates — shingle
    // SETS would undercount exactly the repetition being measured).
    // The size guard matters: sequence(1, 0) DESCENDS in Spark, it is
    // not empty, so a 1-token doc would index past the array
    val bigrams = t
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) < 2 THEN array()
          |ELSE transform(sequence(1, size(w) - 1),
          |  i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) END"""
          .stripMargin)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_bigram_n"), sum(col("c")).as("n_bigrams"))

    // longest same-token run: gaps-and-islands on (doc, token) — a run
    // of k equal tokens shares one (pos − rank) island id
    val runs = t
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
      .withColumn("isl", col("pos") - row_number()
        .over(Window.partitionBy("doc_id", "tok").orderBy(col("pos"))))
      .groupBy("doc_id", "tok", "isl").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max(col("run")).as("max_run"))

    base.drop("w")
      .join(bigrams, Seq("doc_id"), "left") // 1-token docs: no bigrams
      .join(runs, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("dup_word_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams") > 0,
          expr("CAST(ROUND(CAST(top_bigram_n AS DOUBLE) / n_bigrams, 4) AS DOUBLE)"))
          .as("top_bigram_frac"),
        col("max_run"))
  }

  /** Cross-document duplicate n-gram fraction (the RefinedWeb/C4-style
    * corpus contamination signal the per-doc repetition stats can't
    * see): for each doc, the fraction of its DISTINCT word n-grams
    * that also occur in at least one other document. Shape: per-doc
    * n-gram extraction is row-local; only (doc_id, md5(ngram)) pairs
    * shuffle — the inverted index is keyed by the 128-bit n-gram hash,
    * never the text — then one count per hash and one doc-keyed
    * roll-up. Docs shorter than `n` tokens emit no n-grams and are
    * absent from the output (both engines agree). `idCol` must be
    * unique among the docs that yield n-grams: a repeated id raises. */
  def duplicateNgramFraction(df: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    // r17 fused posting build: one native kernel call per doc yields
    // the PER-DOC-DISTINCT md5 n-gram digests (16-byte binary, 1:1
    // with the old hex strings), so (doc_id, g) rows leave the explode
    // already unique — the old global `.distinct()` Exchange that
    // deduped them is gone outright (guide §2.4), and the remaining
    // cross-doc shuffle carries 16-byte digests instead of 32-char hex
    // strings. Values identical: same tokenizer (split(' '), empties
    // dropped, NO lowercase), same md5 keying — see Sketches.md5GramSet.
    val grams = df
      .select(col(idCol).as("doc_id"),
        graft.plans.GraftFunctions.md5GramSet(df.sparkSession,
          col(textCol), n).as("gs"))
      // n_g before the explode: taken in the explode's own select, the
      // plan carries the whole array on every gram row to size it
      .select(col("doc_id"), size(col("gs")).as("n_g"), col("gs"))
      .where(col("n_g") >= 1)
      .select(col("doc_id"), col("n_g"), explode(col("gs")).as("g"))
    val docsPerGram = grams.groupBy("g")
      .agg(count(lit(1)).as("nd")) // grams is (doc_id,g)-distinct
    // a doc_id on two rows would count its grams twice in `nd`, so a
    // gram unique to it reads as duplicated: such an id collects more
    // gram rows than its smallest row's n_g, and raises
    grams.join(docsPerGram, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_ngrams"), min(col("n_g")).as("n_g"),
        expr("CAST(ROUND(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) " +
          "/ CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE)").as("dup_frac"))
      .select(col("doc_id"),
        when(col("n_ngrams") =!= col("n_g"), expr("raise_error(" +
          "'duplicateNgramFraction: a doc_id repeats; ids must be unique')")
          .cast("long")).otherwise(col("n_ngrams")).as("n_ngrams"),
        col("dup_frac"))
  }
}
