package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, trim, try_to_timestamp, when}

import graft.config.{Enums, EnvConfig, Thresholds}
import graft.dq.{DataQualityChecker, DQReport}
import graft.io.Writers
import graft.monitoring.PipelineMonitor
import graft.ops.{SilverPipeline, Transforms}

/** EP1 — the reference's canonical batch composition (SURVEY §3):
  * bronze read → ingestion metadata → DQ checks → valid/invalid split →
  * silver cast → partitioned writes (silver + quarantine) → stage metrics.
  *
  * Execution shape vs the reference: the reference runs k+2 jobs for k DQ
  * checks plus separate counts (§4 hazard 1); here the whole pipeline is
  * four fixed actions regardless of k — one aggregate for the DQ report,
  * one write per split (two sinks are necessarily two jobs), and one
  * count — all reading the one cached flagged frame, so the source is
  * scanned once.
  */
object Pipeline {

  final case class IngestionResult(
      report: DQReport,
      validCount: Long,
      quarantinedCount: Long)

  /** Standard DQ contract for bronze transactions (thresholds from
    * config: completeness 0.95, uniqueness 1.0, amount bounds, timestamp
    * parseability). Bronze is all-string, so parse checks use try_* forms:
    * under Spark 4's default ANSI mode a plain cast would THROW on exactly
    * the dirty rows the quarantine exists to catch. Nulls/blanks are
    * exempt from the parse checks — completeness owns nulls (the same
    * rule checkRange/checkValidity apply). */
  def transactionChecks(df: DataFrame): DataQualityChecker = {
    def blank(c: String): Column = col(c).isNull || trim(col(c)) === ""
    DataQualityChecker(df, "transactions")
      // every column Silver.transactions declares non-nullable is
      // completeness-screened: validity checks EXEMPT nulls, so an
      // unscreened null transaction_type/currency sailed into silver
      // against the declared typing contract with no quarantine record
      .checkCompleteness(Seq("transaction_id", "customer_id", "merchant_id",
        "amount", "currency", "transaction_type", "status",
        "transaction_timestamp"),
        Thresholds.dqCompletenessThreshold)
      .checkUniqueness(Seq("transaction_id"), Thresholds.dqUniquenessThreshold)
      .checkCustom("amount_in_bounds",
        when(blank("amount"), lit(true)).otherwise(
          col("amount").try_cast("double").between(
            Thresholds.minTransactionAmount, Thresholds.maxTransactionAmount)),
        column = "amount")
      // silver partitions by to_date(transaction_timestamp): an unparseable
      // timestamp would land in __HIVE_DEFAULT_PARTITION__ and vanish from
      // every date-pruned gold read — quarantine it here instead
      .checkCustom("timestamp_parseable",
        when(blank("transaction_timestamp"), lit(true)).otherwise(
          try_to_timestamp(col("transaction_timestamp"),
            lit(graft.ops.SilverPipeline.TsFormat)).isNotNull),
        column = "transaction_timestamp")
      .checkValidity("status", Enums.transactionStatuses)
      .checkValidity("transaction_type", Enums.transactionTypes)
  }

  /** Run bronze→silver ingestion for transactions. Writes silver
    * partitioned by transaction_date (partition pruning on the gold side)
    * and quarantine with failure reasons. */
  def ingestTransactions(
      spark: SparkSession,
      bronze: DataFrame,
      env: EnvConfig,
      monitor: Option[PipelineMonitor] = None): IngestionResult = {
    monitor.foreach(_.startStage("ingest_transactions"))

    // cache the metadata-stamped bronze once: the DQ aggregate, the silver
    // write and the quarantine write all read it — without this the source
    // is re-scanned (and all flag predicates recomputed) per consumer
    val withMeta = Transforms.addIngestionMetadata(bronze).persist()
    try {
      val checker = transactionChecks(withMeta)
      val report = checker.run()
      val (valid, invalid) = checker.validInvalidSplit()

      // transactionsToSilver's explicit projection drops the metadata
      // columns; no pre-drop needed
      val silver = Transforms.addProcessingMetadata(
        SilverPipeline.transactionsToSilver(valid))
      Writers.writeParquet(silver, s"${env.silverPath}/transactions",
        partitionBy = Seq("transaction_date"))
      Writers.writeParquet(invalid, s"${env.quarantinePath}/transactions")

      // counts from the cached frames (identical to what was written —
      // the pipeline is deterministic), not from re-reading the output
      val quarantined = invalid.count()
      val validCount = report.results.headOption.map(_.totalCount)
        .getOrElse(withMeta.count()) - quarantined
      monitor.foreach(_.endStage("ingest_transactions",
        status = if (report.passed) "SUCCESS" else "SUCCESS_WITH_WARNINGS",
        recordsRead = report.results.headOption.map(_.totalCount).getOrElse(0L),
        recordsWritten = validCount, recordsFailed = quarantined))
      IngestionResult(report, validCount, quarantined)
    } finally withMeta.unpersist()
  }

  /** Post-load maintenance, gated by the env's ENABLE_OPTIMIZATION flag
    * (reference dev.py:61/prod.py:64): a clustered compaction commit
    * (OPTIMIZE ZORDER analogue) + retired-file GC (VACUUM). `tablePath`
    * must be a [[graft.io.VersionedTable]], e.g. a
    * [[graft.streaming.Streams.mergeSink]] target. The silver that
    * [[ingestTransactions]] writes is plain hive-partitioned parquet, not
    * a versioned table, so it cannot be maintained here (compact throws
    * `no table at …`). */
  def runMaintenance(spark: SparkSession, env: EnvConfig, tablePath: String,
      clusterCols: Seq[String], targetFiles: Int = 8): Boolean = {
    if (!env.enableOptimization) return false
    graft.io.VersionedTable.compact(spark, tablePath, targetFiles,
      clusterBy = clusterCols)
    graft.io.VersionedTable.vacuum(tablePath)
    true
  }

  /** DQ report → alert bridge (the reference wires DQ failures into
    * alerting.py's severity routing): worst failing severity maps to the
    * paging tier; no failures → no alert. */
  def alertFromReport(report: DQReport,
      pipelineName: String): Option[graft.alerting.Alert] = {
    import graft.alerting.{Alert, AlertSeverity}
    val failed = report.failedChecks
    if (failed.isEmpty) return None
    val worst = failed.map(_.severity).distinct
    val sev =
      if (worst.contains("Critical")) AlertSeverity.P1
      else if (worst.contains("High")) AlertSeverity.P2
      else if (worst.contains("Medium")) AlertSeverity.P3
      else AlertSeverity.P4
    Some(Alert(
      title = s"DQ failures on ${report.tableName}",
      // Fmt.fmt, not the f-interpolator: a comma-decimal default locale
      // would render "rate 0,9500" into the alert payload (the one-copy
      // locale rule every other formatter here follows)
      message = failed.map(c =>
        s"${c.checkName}: ${c.failedCount} failed (rate " +
          s"${graft.util.Fmt.fmt("%.4f", c.passRate)} < ${c.threshold})")
        .mkString("; "),
      severity = sev,
      pipelineName = pipelineName,
      details = failed.map(c => c.checkName -> c.failedCount.toString).toMap))
  }
}
