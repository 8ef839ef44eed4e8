package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus version diffing — the data-ops primitive behind dataset
  * release notes, incremental re-processing ("run the pipeline only on
  * added∪changed") and regression triage. One null-safe full-outer join
  * on the id: at 100 TB this is a single co-partitioned shuffle, and
  * both sides prune to (id + compared columns) before it.
  */
object Diff {

  /** Row status of `newDf` relative to `oldDf`: `added` (id only in
    * new), `removed` (id only in old), `changed` (id in both, any
    * compared column differs), `unchanged`. Comparison is exact
    * null-safe struct equality — no hashing, so no collision risk; pass
    * a content-hash column in `compareCols` instead when the payload is
    * too wide to shuffle twice. Output: (idCol, status).
    *
    * Precondition: `idCol` is UNIQUE within each version — a duplicated
    * id (null included: the join is null-safe, so all null-id rows share
    * one key) pairs many-to-many like any duplicated join key and makes
    * the statuses meaningless, the same contract [[graft.io.Upsert.merge]]
    * documents for its merge keys. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "at least one compare column")
    // the id join itself is null-safe (<=>), honoring the scaladoc: a
    // null-id row present in both versions pairs up as unchanged/changed
    // instead of surfacing as a phantom added+removed pair. Presence is
    // tracked with marker literals — with null-safe ids, the id column's
    // own nullness can no longer distinguish "absent side" from "null id"
    val o = oldDf.select(col(idCol).as("__oid"),
      struct(compareCols.map(col): _*).as("__old"), lit(true).as("__ino"))
    val n = newDf.select(col(idCol).as("__nid"),
      struct(compareCols.map(col): _*).as("__new"), lit(true).as("__inn"))
    o.join(n, col("__oid") <=> col("__nid"), "full_outer")
      .select(
        when(col("__inn").isNotNull, col("__nid")).otherwise(col("__oid"))
          .as(idCol),
        when(col("__ino").isNull, lit("added"))
          .when(col("__inn").isNull, lit("removed"))
          .when(col("__old") <=> col("__new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Diff summary: one row per status with counts — the release-note
    * aggregate (map-side combine on four statuses). */
  def diffSummary(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      compareCols: Seq[String]): DataFrame =
    corpusDiff(oldDf, newDf, idCol, compareCols)
      .groupBy(col("status")).agg(count(lit(1)).as("n"))

  private def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(regexp_extract_all(
        lower(coalesce(col(textCol), lit(""))), lit("\\S+"), lit(0)))
        .as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))

  /** Jensen–Shannon divergence between the token distributions of two
    * corpora — the "did the corpus change in KIND, not just size"
    * release gate that row-level [[corpusDiff]] can't see (every doc
    * replaced by a same-id paraphrase is 100% `changed` but ~0 drift;
    * 10% new docs in a new language is low churn but high drift).
    *
    * JS(P‖Q) = ½·KL(P‖M) + ½·KL(Q‖M), M = ½(P+Q), log base 2 — symmetric,
    * finite on disjoint supports (unlike raw KL), bounded in [0, 1].
    * Zero-count tokens contribute 0 to their side (lim p→0 p·log p = 0),
    * so no smoothing is needed or applied — the distributions compared
    * are the exact empirical ones.
    *
    * Output (one row): n_tokens_a, n_tokens_b, vocab_a, vocab_b,
    * vocab_shared, js_divergence.
    *
    * Scale: one shuffle per corpus on the token (map-side combine makes
    * the shuffled frame vocabulary-sized, not corpus-sized), one
    * full-outer vocabulary join, totals broadcast back as a single-row
    * frame. The final Σ is vocabulary-many like-magnitude double terms
    * — `roundTo` sits far above partial-agg order noise (q94
    * convention). */
  def tokenDistributionDrift(a: DataFrame, b: DataFrame, textCol: String,
      roundTo: Int = 6): DataFrame = {
    // persisted: the vocabulary frame feeds the totals aggregate AND the
    // divergence pass — uncached, both corpora would tokenize twice.
    // Eagerly released by the single-row result materialization below.
    val vocab = joinedVocab(a, b, textCol).persist()
    vocab.count()
    val tot = vocab.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val w = vocab.crossJoin(broadcast(tot))
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val m = (p + q) / lit(2.0)
    val term =
      when(col("__ca") > 0L, lit(0.5) * p * log2(p / m)).otherwise(0.0) +
        when(col("__cb") > 0L, lit(0.5) * q * log2(q / m)).otherwise(0.0)
    val out = w.agg(
      sum(col("__ca")).as("n_tokens_a"),
      sum(col("__cb")).as("n_tokens_b"),
      sum(when(col("__ca") > 0L, 1L).otherwise(0L)).as("vocab_a"),
      sum(when(col("__cb") > 0L, 1L).otherwise(0L)).as("vocab_b"),
      sum(when(col("__ca") > 0L && col("__cb") > 0L, 1L).otherwise(0L))
        .as("vocab_shared"),
      round(sum(term), roundTo).as("js_divergence"))
    val snap = graft.util.Caches.snapshot(out)
    vocab.unpersist(blocking = false)
    snap
  }

  private def joinedVocab(a: DataFrame, b: DataFrame,
      textCol: String): DataFrame =
    tokenCounts(a, textCol).select(col("tok"), col("c").as("__ca"))
      .join(tokenCounts(b, textCol).select(col("tok"), col("c").as("__cb")),
        Seq("tok"), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))

  /** The per-token view of [[tokenDistributionDrift]]: each token's
    * probability under both corpora and the shift between them, top
    * `k` by absolute shift — the "WHICH tokens moved" drill-down.
    * Ranking runs on the ROUNDED shift with the token as tiebreak, so
    * the cut is deterministic cross-engine (the q110 convention).
    * Output: (tok, p_a, p_b, shift), shift = p_b − p_a, descending
    * |shift|. Same shapes as the scalar drift; the top-k is a
    * TakeOrderedAndProject, never a global sort. */
  def topDriftedTokens(a: DataFrame, b: DataFrame, textCol: String,
      k: Int = 20, roundTo: Int = 6): DataFrame = {
    require(k > 0, "k must be > 0")
    // same double-scan shape as tokenDistributionDrift: cache the vocab
    // across the totals aggregate and the shift pass, release it once
    // the (k-row) result is materialized
    val vocab = joinedVocab(a, b, textCol).persist()
    vocab.count()
    val tot = vocab.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val w = vocab.crossJoin(broadcast(tot))
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val out = w.select(col("tok"),
        round(p, roundTo).as("p_a"),
        round(q, roundTo).as("p_b"),
        round(q - p, roundTo).as("shift"))
      .orderBy(abs(col("shift")).desc, col("tok"))
      .limit(k)
    val snap = graft.util.Caches.snapshot(out)
    vocab.unpersist(blocking = false)
    snap
  }
}
