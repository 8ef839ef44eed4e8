package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE/upsert algebra (SURVEY §2.3 M1, §7.4).
  *
  * The reference uses Delta `MERGE` (reference `src/utils/spark_utils.py:285-344`):
  * equi-match on merge keys, matched rows update listed columns (or all),
  * unmatched source rows insert. Delta itself implements MERGE as a join plus
  * a file rewrite; without Delta jars we express the same thing directly as a
  * full-outer join with source-wins resolution. The on-disk MERGE — commit,
  * concurrency, retention — is [[VersionedTable.merge]], which applies this
  * algebra to the files the source keys hit.
  *
  * Scale notes:
  *  - The join shuffles both sides on the merge keys; when the source batch is
  *    small relative to the target (the common CDC shape) AQE converts it to a
  *    broadcast join automatically.
  *  - Matched/inserted counts come from one aggregate over the join output
  *    (the reference returns a -1 sentinel, spark_utils.py:344 — we return
  *    real counts).
  */
object Upsert {

  final case class MergeStats(inserted: Long, updated: Long)

  /** Pure (lazy) merge of `source` into `target`: full-outer join on `keys`;
    * on match, `updateColumns` (default: all non-key columns) come from the
    * source; unmatched source rows are inserted; unmatched target rows are
    * kept. Null-safe on data columns: presence is judged by join-side marker
    * columns, not by data nullability, so a source row carrying NULLs still
    * wins its matched columns.
    *
    * PRECONDITION: the source must be key-unique. Duplicate source keys
    * match the same target row repeatedly — the output then carries the
    * key twice and the stats double-count (Delta MERGE raises an error
    * here; this emulation cannot detect it without an extra pass).
    * Pre-reduce CDC batches with `Transforms.deduplicateByKey` — the
    * streaming `mergeSink` does exactly that. */
  def merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updateColumns: Option[Seq[String]] = None): DataFrame = {
    require(keys.nonEmpty, "merge keys must be non-empty")
    val dataCols = target.columns.filterNot(keys.contains).toSeq
    val updSet = updateColumns.getOrElse(dataCols).toSet

    // Rename every source column up front: the aliased projection mints
    // fresh attribute ids, so merging a frame into ITSELF (or any shared
    // lineage) cannot hit self-join attribute ambiguity.
    val s = source.select(
      source.columns.map(c => col(c).as(s"__s_$c")).toIndexedSeq :+
        lit(true).as("__s_present"): _*)
    val t = target.withColumn("__t_present", lit(true))

    val cond = keys.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")

    val sHere = col("__s_present").isNotNull
    val tHere = col("__t_present").isNotNull
    val keyCols = keys.map(k =>
      when(sHere, col(s"__s_$k")).otherwise(col(k)).as(k))
    val valCols = dataCols.map { c =>
      val fromSource = if (updSet.contains(c)) sHere else sHere && !tHere
      when(fromSource, col(s"__s_$c")).otherwise(col(c)).as(c)
    }
    joined.select(keyCols ++ valCols: _*)
  }

  /** Merge stats without materialising the merge twice: one aggregate over
    * the join output. */
  def mergeStats(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String]): MergeStats = {
    val t = target.select(keys.map(col): _*).withColumn("__t", lit(true))
    val s = source.select(keys.map(col): _*).withColumn("__s", lit(true))
    val cond = keys.map(k => t(k) <=> s(k)).reduce(_ && _)
    val row = t.join(s, cond, "full_outer")
      .agg(
        sum(when(t("__t").isNotNull && s("__s").isNotNull, 1L).otherwise(0L)).as("updated"),
        sum(when(t("__t").isNull && s("__s").isNotNull, 1L).otherwise(0L)).as("inserted"))
      .head()
    MergeStats(
      inserted = Option(row.getAs[Long]("inserted")).getOrElse(0L),
      updated = Option(row.getAs[Long]("updated")).getOrElse(0L))
  }
}
