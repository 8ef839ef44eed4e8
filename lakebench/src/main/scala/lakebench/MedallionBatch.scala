package lakebench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.config.EnvConfig
import graft.generator.DataGenerator
import graft.gold.FintechGold
import graft.io.VersionedTable
import graft.monitoring.{Monitoring, PipelineMonitor}
import graft.ops.SilverPipeline

/** One bronze day-batch per iteration through the medallion: DQ and
  * quarantine into silver (`Pipeline.ingestTransactions`, recording its
  * stage metrics through a `PipelineMonitor` table), then the gold
  * star schema and AML screens published with `VersionedTable.overwrite`.
  * Batches come from `DataGenerator` with a per-batch seed plus planted
  * defects, and are written as bronze parquet during set-up. */
object MedallionBatch extends Workload {

  val Rows = 10000
  val Customers = 10000
  val Merchants = 500
  /** Bronze batches staged per set-up; iteration i ingests batch i % Pool. */
  val Pool = 2

  def setUp(ctx: Ctx): Instance = new Instance {
    val spark: SparkSession = ctx.spark
    val env: EnvConfig = EnvConfig.dev(ctx.dir.resolve("lake").toString)
    val genSeed: Int = (ctx.seed * 1000003L).toInt
    val customers = s"${env.silverPath}/customers"
    val merchants = s"${env.silverPath}/merchants"
    SilverPipeline.customersToSilver(
      DataGenerator.customers(spark, Customers, genSeed)).write.parquet(customers)
    SilverPipeline.merchantsToSilver(
      DataGenerator.merchants(spark, Merchants, genSeed)).write.parquet(merchants)
    val plans: IndexedSeq[Gen.DefectPlan] = (0 until Pool).map { b =>
      val plan = Gen.defectPlan(ctx.seed, b, Rows)
      bronzeBatch(spark, genSeed + b, b.toLong * Rows, plan)
        .write.parquet(s"${env.bronzePath}/$b")
      plan
    }
    val gold: Path = ctx.dir.resolve("gold")
    Monitoring.createMetricsTable(spark, "stage_metrics")
    val monitor = new PipelineMonitor(spark, "medallion_batch", Some("stage_metrics"))

    def rowsPerIteration: Long = Rows

    def iteration(i: Int): Unit = {
      val b = i % Pool
      val plan = plans(b)
      val bronze = spark.read.parquet(s"${env.bronzePath}/$b")
      val res = ctx.op("other", "pipeline.ingest") {
        Pipeline.ingestTransactions(spark, bronze, env, Some(monitor)) }
      ctx.check(s"ingest batch $b: valid + quarantined = bronze rows") {
        res.validCount + res.quarantinedCount == Rows }
      ctx.check(s"ingest batch $b: exactly the planted defects quarantined") {
        val got = spark.read.parquet(s"${env.quarantinePath}/transactions")
          .select("transaction_id").collect().map(_.getString(0)).toSet
        got == plan.quarantined.map(r => Gen.txnKey(b * Rows + r))
      }
      ctx.check(s"ingest batch $b: stage metrics recorded") {
        monitor.metrics.lastOption.exists(m => m.recordsRead == Rows &&
          m.recordsFailed == plan.quarantined.size)
      }
      ctx.check(s"ingest batch $b: planted duplicate ids reported") {
        res.report.results.find(_.checkName == "uniqueness_transaction_id")
          .map(_.failedCount).contains(plan.duplicateOf.size.toLong)
      }
      ctx.op("write", "gold.publish") { publish() }
      ctx.check(s"gold batch $b: daily counts and amounts reconcile with silver") {
        val silver = spark.read.parquet(s"${env.silverPath}/transactions")
          .agg(count(lit(1)), sum("amount_usd")).head()
        val daily = VersionedTable.snapshot(spark, gold.resolve("agg_daily_metrics").toString)
          .agg(sum("n_transactions"), sum("total_amount_usd")).head()
        silver.getLong(0) == daily.getLong(0) &&
          silver.getDecimal(1).compareTo(daily.getDecimal(1)) == 0
      }
    }

    def publish(): Unit = {
      val txns = spark.read.parquet(s"${env.silverPath}/transactions")
      val cust = spark.read.parquet(customers)
      val merch = spark.read.parquet(merchants)
      val dimC = FintechGold.dimCustomer(cust)
      val dimM = FintechGold.dimMerchant(merch)
      Seq(
        "dim_customer" -> dimC,
        "dim_merchant" -> dimM,
        "fact_transactions" -> FintechGold.factTransactions(txns, dimC, dimM),
        "agg_daily_metrics" -> FintechGold.aggDailyMetrics(txns),
        "agg_customer_360" -> FintechGold.aggCustomer360(txns, cust),
        "agg_merchant_performance" -> FintechGold.aggMerchantPerformance(txns, merch),
        "aml_ctr" -> FintechGold.amlCtr(txns),
        "aml_structuring" -> FintechGold.amlStructuring(txns)
      ).foreach { case (name, df) =>
        VersionedTable.overwrite(spark, df, gold.resolve(name).toString)
      }
    }

    override def finish(full: Boolean): Map[String, Double] =
      if (!full) Map.empty
      else Files.list(gold).toArray.toSeq.map(_.asInstanceOf[Path])
        .map(t => Io.footprint(spark, t, ctx.dir.resolve("compacted")))
        .reduce(Io.add)
  }

  /** A `DataGenerator` day-batch with its transaction ids offset to be
    * unique across batches and the defects of `plan` planted. */
  def bronzeBatch(spark: SparkSession, genSeed: Int, offset: Long,
      plan: Gen.DefectPlan): DataFrame = {
    val idx = col("__row")
    def in(rows: Set[Int]) = idx.isin(rows.toSeq: _*)
    val dupOf = typedlit(plan.duplicateOf)
    DataGenerator.transactions(spark, Rows, Customers, Merchants, days = 1,
      seed = genSeed)
      .withColumn("__row", col("transaction_id").substr(4, 9).cast("int"))
      .withColumn("transaction_id", format_string("TXN%09d",
        coalesce(element_at(dupOf, idx), idx) + lit(offset)))
      .withColumn("amount", when(in(plan.blankAmount), lit(""))
        .otherwise(col("amount")))
      .withColumn("transaction_timestamp", when(in(plan.badTimestamp),
        lit("2024-13-45 25:61:00")).otherwise(col("transaction_timestamp")))
      .withColumn("status", when(in(plan.badStatus), lit("UNKNOWN"))
        .otherwise(col("status")))
      .drop("__row")
  }
}

/** Storage footprint helpers shared by the workloads. */
object Io {

  def size(uri: String): Long = Files.size(Paths.get(java.net.URI.create(uri)))

  /** Live files, their bytes, and the bytes of the same rows written
    * once, compacted into one parquet file, for the versioned table at
    * `table`: (live_files, live_bytes, compact_bytes, space_amp). */
  def footprint(spark: SparkSession, table: Path, scratch: Path): Map[String, Double] = {
    val snap = VersionedTable.snapshot(spark, table.toString)
    val live = snap.inputFiles.toSeq
    val out = scratch.resolve(table.getFileName.toString)
    snap.coalesce(1).write.parquet(out.toString)
    val compact = spark.read.parquet(out.toString).inputFiles.map(size).sum
    Main.delete(out)
    val liveBytes = live.map(size).sum.toDouble
    Map("live_files" -> live.size.toDouble, "live_bytes" -> liveBytes,
      "compact_bytes" -> compact.toDouble,
      "space_amp" -> liveBytes / compact)
  }

  /** Footprints of several tables, added up (space_amp re-derived). */
  def add(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] = {
    val s = Seq("live_files", "live_bytes", "compact_bytes")
      .map(k => k -> (a(k) + b(k))).toMap
    s + ("space_amp" -> s("live_bytes") / s("compact_bytes"))
  }
}
