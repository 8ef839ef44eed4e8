package lakebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextPipeline}
import graft.io.VersionedTable

/** The corpus-curation path: each iteration curates a fresh shard
  * (`TextPipeline.curate`: rule filter, exact and near dedup), runs the
  * standalone `Dedup.dedupNearDuplicates` over the result, matches the
  * survivors against a fixed near-dup index of the base corpus
  * (`Dedup.incrementalNearDupMatches`) and appends the docs with no base
  * match to the kept corpus. The index is built once in set-up and never
  * grows, so every iteration does the same work. */
object CorpusDedup extends Workload {

  val BaseDocs = 2000
  val ShardDocs = 1000
  val Threshold = 0.8

  def frame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  def setUp(ctx: Ctx): Instance = new Instance {
    val spark: SparkSession = ctx.spark
    val base: Array[Gen.Doc] = Gen.baseCorpus(ctx.seed, BaseDocs)
    val baseText: Map[Long, String] = base.map(d => d.id -> d.text).toMap
    val basePath: String = ctx.dir.resolve("base").toString
    frame(spark, base.toSeq).write.parquet(basePath)
    val kept: String = ctx.dir.resolve("kept").toString
    VersionedTable.append(spark, spark.read.parquet(basePath), kept)
    val index: Dedup.NearDupIndex = {
      val i = Dedup.buildNearDupIndex(spark.read.parquet(basePath), "doc_id", "text")
      i.copy(sets = i.sets.persist(), banded = i.banded.persist())
    }
    index.sets.count(); index.banded.count()

    def rowsPerIteration: Long = ShardDocs

    def iteration(i: Int): Unit = {
      val shard = Gen.shard(ctx.seed, i, ShardDocs, base)
      val text = shard.docs.map(d => d.id -> d.text).toMap ++ baseText
      val path = ctx.dir.resolve(s"shard/$i").toString
      ctx.untimed { frame(spark, shard.docs.toSeq).write.parquet(path) }
      val docs = spark.read.parquet(path)

      val curated = ctx.op("other", "ext.curate") {
        TextPipeline.curate(docs, "doc_id", "text", nearDupJaccard = Threshold) }
      val curatedIds = ctx.untimed {
        curated.curated.select("doc_id").collect().map(_.getLong(0)).toSet }
      ctx.check(s"shard $i: no doc fails the rule filter") {
        curated.stats.afterRuleFilter == ShardDocs }
      val deduped = ctx.op("other", "ext.dedupNearDuplicates") {
        val d = Dedup.dedupNearDuplicates(curated.curated, "doc_id", "text",
          minJaccard = Threshold).persist()
        ctx.rec.note("dedup_removed", curatedIds.size - d.count())
        d
      }
      val matches = ctx.op("read", "ext.incrementalNearDupMatches") {
        Dedup.incrementalNearDupMatches(deduped, index, "doc_id", "text",
          Threshold, 1000).collect()
      }
      ctx.rec.note("incremental_pairs", matches.length)
      ctx.check(s"shard $i: every reported pair has exact Jaccard >= $Threshold") {
        matches.forall(m => Gen.jaccard3(text(m.getLong(0)), text(m.getLong(1))) >=
          Threshold - 1e-9)
      }
      val pairs = matches.map(m => (m.getLong(0), m.getLong(1))).toSet
      ctx.rec.note("dup_planted", shard.basePairs.size + shard.withinPairs.size)
      ctx.rec.note("dup_found", shard.basePairs.count(pairs.contains) +
        shard.withinPairs.count { case (copy, _) => !curatedIds.contains(copy) })

      val matched = matches.filter(_.getBoolean(3)).map(_.getLong(0)).toSeq
      ctx.op("write", "io.append") {
        VersionedTable.append(spark,
          deduped.filter(!col("doc_id").isin(matched: _*)), kept)
      }
      deduped.unpersist()
    }

    override def finish(full: Boolean): Map[String, Double] =
      if (full) Io.footprint(spark, java.nio.file.Paths.get(kept),
        ctx.dir.resolve("compacted"))
      else Map.empty

    override def close(): Unit = { index.sets.unpersist(); index.banded.unpersist() }
  }
}
