package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analytics.CorpusStats
import graft.functions.TextFunctions
import graft.operators.{Curation, Decontaminate, Dedup, Packing, Sampling}

/** Fluent facade over the training-data pipeline operators — the
  * corpus-side counterpart of [[GraftSession]] (which covers the
  * reference's interactive surface). Every step delegates to the
  * operator objects, so the plans — and their scale properties — are
  * identical to calling the operators directly; the wrapper only
  * threads `(df, idCol, textCol)` through the chain.
  *
  * The held `df` stays lazy: chaining narrow steps (curate thresholds,
  * repetition bounds, decontamination) still collapses into one
  * Catalyst plan with a single scan, exactly like composing the
  * operators by hand.
  *
  * {{{
  * val clean = Corpus(raw, "doc_id", "text")
  *   .curate(Curation.Config(lang = Some("en"), minTokens = 50))
  *   .filterRepetition(maxDupWordFrac = 0.3, maxTopBigramFrac = 0.2)
  *   .dedupNear(threshold = 0.8)
  *   .decontaminateAgainst(evalDocs)
  *   .split(trainFraction = 0.9, validFraction = 0.05)
  *   .toDF
  * }}}
  */
final case class Corpus(df: DataFrame, idCol: String, textCol: String) {

  private def next(d: DataFrame): Corpus = copy(df = d)

  /** The underlying DataFrame (lazy — nothing has executed yet). */
  def toDF: DataFrame = df

  /** Annotate → language/quality filter → exact dedup → deterministic
    * sample ([[graft.operators.Curation.curate]]). Adds `n_tokens`,
    * `punct_ratio`, `lang_pred`. */
  def curate(cfg: Curation.Config = Curation.Config()): Corpus =
    next(Curation.curate(df, idCol, textCol, cfg))

  /** Gopher-style repetition bounds (inclusive-keep), shuffle-free.
    * Adds the [[graft.analytics.CorpusStats.repetitionMetrics]] columns
    * for auditability. */
  def filterRepetition(
      maxDupWordFrac: Double = 1.0, maxTopBigramFrac: Double = 1.0): Corpus =
    next(CorpusStats.repetitionMetrics(df, idCol, textCol)
      .filter(col("dup_word_frac") <= maxDupWordFrac &&
        col("top_bigram_frac") <= maxTopBigramFrac))

  /** Gopher quality cut ([[graft.analytics.CorpusStats.gopherFilter]]
    * with its published default bands); adds the signal columns. */
  def filterGopher(
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8): Corpus =
    next(CorpusStats.gopherFilter(df, idCol, textCol,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, maxBulletFrac,
      maxEllipsisFrac, minAlphaFrac))

  /** Exact content dedup (sha256); first row under `order` wins. */
  def dedupExact(order: Seq[Column] = Nil): Corpus = {
    val ord = if (order.nonEmpty) order else Seq(col(idCol).asc)
    next(Dedup.exactByContent(df, textCol, ord))
  }

  /** MinHash-LSH near-dup dedup keeping the preferred doc per transitive
    * cluster (default: longest text, then lowest id). */
  def dedupNear(
      threshold: Double = 0.8, preference: Seq[Column] = Nil): Corpus = {
    val pref =
      if (preference.nonEmpty) preference
      else Seq(length(col(textCol)).desc, col(idCol).asc)
    val pairs = Dedup.minHashNearDups(df, idCol, textCol, threshold = threshold)
      .select(col("id_a"), col("id_b"))
    next(Dedup.keepBestPerCluster(df, idCol, pairs, pref).drop("cluster"))
  }

  /** Drop docs sharing any word `n`-gram with the eval set (broadcast
    * gram set, one scan — [[graft.operators.Decontaminate]]). */
  def decontaminateAgainst(
      evalSet: DataFrame, n: Int = 8, hashGrams: Boolean = true): Corpus =
    next(Decontaminate.decontaminate(df, evalSet, idCol, textCol, n, hashGrams))

  /** CCNet-style fluency cut: drop docs whose mean per-bigram negative
    * log-prob under an add-k bigram LM exceeds `maxNll` (high = noise/
    * gibberish under the reference). `ref` defaults to this corpus
    * (self-scoring); docs too short to have a bigram are KEPT (no
    * evidence either way — [[graft.analytics.CorpusStats
    * .bigramLmScore]]'s NULL score). */
  def lmFilter(maxNll: Double, ref: Option[DataFrame] = None,
      k: Double = 0.5): Corpus = {
    val scoresRaw = CorpusStats.bigramLmScore(df, idCol, textCol, ref, k)
    val scores = scoresRaw.select(col(idCol),
      scoresRaw("nll").as("__nll"))
    next(df.join(scores, Seq(idCol), "left")
      .filter(col("__nll").isNull || col("__nll") <= maxNll)
      .drop("__nll"))
  }

  /** Near-dup ADMISSION against a persisted [[graft.operators
    * .DedupIndex]]: keep only the docs that are not a near-duplicate
    * of the indexed corpus (or of a smaller-id doc in this frame).
    * The typical ingest step then upserts the survivors into the
    * index. The held frame is read ONCE: the gate materializes its
    * reduced batch on entry, so the lazy chain upstream (curate,
    * dedupExact, ...) runs once per call, not once per probe scan.
    * Returns the survivor corpus (eagerly materialized — the admit
    * contract). */
  def admitAgainst(indexPath: String, threshold: Double = 0.8): Corpus =
    next(graft.operators.DedupIndex.admit(
      df.sparkSession, indexPath, df, idCol, textCol, threshold))

  /** SemDeDup semantic dedup over an embedding column the frame
    * already carries ([[graft.operators.Dedup.semanticDedup]]): keep
    * each within-cluster tau-ball's least-prototypical member. The
    * chain's text curation stages don't produce embeddings — bring
    * them from your embedder (the [[GraftSession]] surface) or the
    * source table. Appends `cluster` and `centroid_sim`. */
  def dedupSemantic(
      vecCol: String, cents: DataFrame, tau: Double,
      maxClusterSize: Int = 100000): Corpus =
    next(Dedup.semanticDedup(df, idCol, vecCol, cents, tau, maxClusterSize))

  /** Semantic ADMISSION against a persisted [[graft.operators
    * .SemanticIndex]] — [[admitAgainst]]'s embedding-space sibling:
    * drop docs within cosine `tau` of an indexed incumbent or a
    * better-ranked batchmate. Reads the held frame once and returns
    * it eagerly materialized (the admit contract); upsert survivors to
    * keep the index fresh. */
  def admitSemanticAgainst(
      indexPath: String, vecCol: String, tau: Double): Corpus =
    next(graft.operators.SemanticIndex.admit(
      df.sparkSession, indexPath, df, idCol, vecCol, tau))

  /** Deterministic md5-prefix downsample (engine-portable, stable under
    * corpus growth). */
  def sample(fraction: Double): Corpus =
    next(Sampling.hashSample(df, idCol, fraction))

  /** Stable train/valid/test assignment; adds `split`. */
  def split(trainFraction: Double = 0.8, validFraction: Double = 0.1): Corpus =
    next(Sampling.assignSplit(df, idCol, trainFraction, validFraction))

  /** Sequence packing for a given training sequence length: adds
    * `shard`, `pack_start`, `pack_id` over a `n_tokens` column (created
    * if absent). */
  def pack(seqLen: Long, shards: Int = 1): Corpus = {
    val withTokens =
      if (df.columns.contains("n_tokens")) df
      else df.withColumn("n_tokens",
        TextFunctions.tokenCount(col(textCol)).cast("long"))
    next(Packing.assignPacks(withTokens, idCol, "n_tokens", seqLen, shards))
  }

  /** Cross-document boilerplate line removal: strip lines whose trimmed
    * form appears in at least `minDocs` distinct docs
    * ([[graft.operators.Curation.stripBoilerplateLines]]). */
  def stripBoilerplate(minDocs: Long): Corpus =
    next(Curation.stripBoilerplateLines(df, idCol, textCol, minDocs))

  /** Cross-document repeated n-gram SPAN removal (ExactSubstr-style
    * dedup, [[graft.operators.Curation.stripRepeatedNgramSpans]]):
    * word runs whose every n-gram appears in >= minDocs distinct docs
    * are cut out of each text. */
  def stripRepeatedSpans(n: Int = 8, minDocs: Long = 2): Corpus =
    next(Curation.stripRepeatedNgramSpans(df, idCol, textCol, n, minDocs))

  /** Terminal: Okapi BM25 top-k over the corpus text
    * ([[graft.operators.Lexical.bm25TopK]]) — returns the (id, score)
    * ranking, not a Corpus. */
  def bm25(terms: Seq[String], k: Int): DataFrame =
    graft.operators.Lexical.bm25TopK(df, idCol, textCol, terms, k)

  /** Persist an inverted BM25 index for this corpus at `path`
    * ([[graft.operators.LexicalIndex.build]]) — build once, then serve
    * rankings with [[bm25FromIndex]] without re-tokenizing the corpus.
    * Maintain incrementally with [[graft.operators.LexicalIndex.upsert]]. */
  def buildLexicalIndex(path: String): Corpus = {
    graft.operators.LexicalIndex.build(df.sparkSession, path, df, idCol, textCol)
    this
  }

  /** Persist a near-dup admission index for this corpus at `path`
    * ([[graft.operators.DedupIndex.build]]) — later ingest batches
    * probe it via [[admitAgainst]] instead of re-signing the corpus.
    * Maintain incrementally with [[graft.operators.DedupIndex
    * .upsert]]. */
  def buildDedupIndex(path: String): Corpus = {
    graft.operators.DedupIndex.build(df.sparkSession, path, df, idCol, textCol)
    this
  }

  /** Terminal: [[bm25]] served from a persisted index (same ranking,
    * bit-identical — spec-gated; the corpus text is never re-read). */
  def bm25FromIndex(path: String, terms: Seq[String], k: Int): DataFrame =
    graft.operators.LexicalIndex.bm25TopK(df.sparkSession, path, idCol, terms, k)

  /** Terminal: explode into sliding-window token chunks for embedding/
    * RAG prep ([[graft.operators.Curation.chunkByTokens]]) — returns
    * the (id, chunk_idx, chunk) table, not a Corpus (granularity
    * changed). */
  def chunk(chunkSize: Int, overlap: Int = 0): DataFrame =
    Curation.chunkByTokens(df, idCol, textCol, chunkSize, overlap)

  /** Canonicalize a URL column in place (fragment/tracking-param strip,
    * [[graft.functions.TextFunctions.canonicalizeUrl]]) — run before
    * URL-keyed dedup so crawl variants of one page share a key. */
  def canonicalizeUrls(urlCol: String, outCol: String = ""): Corpus = {
    val out = if (outCol.nonEmpty) outCol else urlCol
    next(df.withColumn(out, TextFunctions.canonicalizeUrl(col(urlCol))))
  }

  /** Token-budget allocation across corpus groups (terminal, like
    * [[stats]]): per `groupCol` value, its proportional share of
    * `budget` tokens and the ppm admission rate that realizes it
    * ([[graft.operators.Sampling.budgetAllocation]]). Weights come from
    * `n_tokens` (created from `textCol` if absent). */
  def budgetAllocation(groupCol: String, budget: Long): DataFrame = {
    val withTokens =
      if (df.columns.contains("n_tokens")) df
      else df.withColumn("n_tokens",
        TextFunctions.tokenCount(col(textCol)).cast("long"))
    Sampling.budgetAllocation(withTokens, groupCol, "n_tokens", budget)
  }

  /** The composed [[graft.operators.Curation.fullPipeline]] in one call. */
  def fullPipeline(cfg: Curation.PipelineConfig = Curation.PipelineConfig()): Corpus =
    next(Curation.fullPipeline(df, idCol, textCol, cfg))

  /** One-row corpus summary: doc count, total/avg token counts. */
  def stats: DataFrame =
    df.select(TextFunctions.tokenCount(col(textCol)).cast("long").as("__t"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("total_tokens"),
        avg(col("__t")).as("avg_tokens"))
}
