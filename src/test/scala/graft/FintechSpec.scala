package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{EnvConfig, Thresholds}
import graft.generator.DataGenerator
import graft.gold.FintechGold
import graft.io.VersionedTable
import graft.ops.SilverPipeline

class FintechSpec extends SparkSpec {
  import spark.implicits._

  private lazy val bronzeTxns =
    DataGenerator.transactions(spark, 5000, nCustomers = 200, nMerchants = 50)
  private lazy val silverTxns = SilverPipeline.transactionsToSilver(bronzeTxns)

  test("generator is deterministic and bronze-shaped (all strings)") {
    val a = bronzeTxns.orderBy("transaction_id").collect()
    val b = DataGenerator.transactions(spark, 5000, 200, 50)
      .orderBy("transaction_id").collect()
    assert(a.toSeq == b.toSeq)
    assert(bronzeTxns.schema.fields.forall(_.dataType == StringType))
    assert(bronzeTxns.columns.toSeq == graft.schemas.Bronze.transactions.fieldNames.toSeq)
  }

  test("generator: a short corpus window clamps the structuring burst " +
    "inside it (days < 14 must not plant AML rows past the window)") {
    val short = DataGenerator.transactions(spark, 5000, 200, 50, days = 7)
    val maxDay = short
      .agg(max(substring(col("transaction_timestamp"), 1, 10)))
      .head().getString(0)
    assert(maxDay <= "2024-01-07", s"timestamps leak past the window: $maxDay")
    // the structuring pattern itself is still planted
    assert(short.filter(col("fraud_indicators") === "STRUCTURING").count() > 0)
  }

  test("generator distributions match the reference patterns") {
    val n = silverTxns.count().toDouble
    // fraud rate ≳ 2.5% base (structuring rows add a little)
    val flagged = silverTxns.filter(col("is_flagged")).count() / n
    assert(flagged > 0.02 && flagged < 0.05, s"flag rate $flagged")
    // amounts within the cap
    val mm = silverTxns.agg(min("amount"), max("amount")).head()
    assert(mm.getDecimal(0).doubleValue() >= 0.01)
    assert(mm.getDecimal(1).doubleValue() <= 50000.0)
    // cross-border consistency with countries
    val bad = silverTxns.filter(
      col("is_cross_border") =!= (col("merchant_country") =!= col("customer_country"))
    ).count()
    assert(bad == 0)
    // structuring rows carry the STRUCTURING indicator
    val structs = silverTxns.filter(array_contains(col("fraud_indicators"), "STRUCTURING"))
    assert(structs.count() > 0)
    assert(structs.filter(col("amount") < 9000 || col("amount") >= 10000).count() == 0)
    // indicators sample WITHOUT replacement — no row repeats one
    assert(silverTxns.filter(
      size(col("fraud_indicators")) =!=
        size(array_distinct(col("fraud_indicators")))).count() == 0)
    // two-indicator rows actually occur (the path the above guards)
    assert(silverTxns.filter(size(col("fraud_indicators")) === 2).count() > 0)
  }

  test("silver cast pipeline matches the declared schema and derivations") {
    val schema = silverTxns.schema
    assert(schema("amount").dataType == DecimalType(18, 2))
    assert(schema("is_flagged").dataType == BooleanType)
    assert(schema("fraud_indicators").dataType == ArrayType(StringType))
    assert(schema("transaction_timestamp").dataType == TimestampType)
    assert(schema("transaction_date").dataType == DateType)
    val r = silverTxns.select("transaction_timestamp", "transaction_date",
      "transaction_hour", "transaction_day_of_week").head()
    val ts = r.getTimestamp(0).toLocalDateTime
    assert(r.getDate(1).toLocalDate == ts.toLocalDate)
    assert(r.getInt(2) == ts.getHour)
  }

  test("silver customers: age derived against a pinned as-of date") {
    val cust = SilverPipeline.customersToSilver(
      DataGenerator.customers(spark, 100), asOf = lit("2024-06-01").cast("date"))
    // generator draws ages 18-80 at the 2024-01-01 anchor
    // (reference generator.py:328-330); vs the 2024-06-01 as-of that is
    // [18, 81)
    val ages = cust.select("age").as[Int].collect()
    assert(ages.forall(a => a >= 18 && a <= 81))
    assert(cust.schema("age").dataType == IntegerType)
  }

  test("silver merchants: typed casts and days_active derivation") {
    val m = SilverPipeline.merchantsToSilver(
      DataGenerator.merchants(spark, 50), asOf = lit("2024-06-01").cast("date"))
    assert(m.schema("fee_rate").dataType == DecimalType(8, 4))
    assert(m.schema("avg_ticket_size").dataType == DecimalType(18, 2))
    assert(m.schema("monthly_volume").dataType == IntegerType)
    val r = m.select("onboarding_date", "days_active").head()
    val expected = java.time.temporal.ChronoUnit.DAYS.between(
      r.getDate(0).toLocalDate, java.time.LocalDate.parse("2024-06-01"))
    assert(r.getInt(1) == expected)
  }

  test("fintech gold daily metrics are exact and complete") {
    val daily = FintechGold.aggDailyMetrics(silverTxns)
    assert(daily.agg(sum("n_transactions")).head().getLong(0) == 5000L)
    // money sums surface WIDE at the gold boundary — a (18,2) narrowing
    // would turn one hot group past 10^16 into an ANSI ArithmeticException
    assert(daily.schema("total_amount_usd").dataType == DecimalType(38, 2))
  }

  test("customer 360 keeps txn-less customers with null aggregates") {
    val cust = SilverPipeline.customersToSilver(
      DataGenerator.customers(spark, 300), asOf = lit("2024-06-01").cast("date"))
    val c360 = FintechGold.aggCustomer360(silverTxns, cust)
    assert(c360.count() == 300)
    assert(c360.filter(col("n_transactions").isNull).count() > 0)
  }

  test("AML CTR screen catches exactly the >=10k transactions") {
    val hits = FintechGold.amlCtr(silverTxns)
    val expected = silverTxns.filter(col("amount_usd") >= 10000.0).count()
    assert(hits.count() == expected && expected > 0)
  }

  test("AML structuring screen finds repeat just-under-CTR offenders") {
    // craft a guaranteed offender: 3 x $9.5k within 2 days
    def row(id: String, cust: String, amt: Double, ts: String) =
      (id, cust, "M1", BigDecimal(amt), ts)
    val crafted = Seq(
      row("T1", "C1", 9500.0, "2024-01-01 10:00:00"),
      row("T2", "C1", 9200.0, "2024-01-02 11:00:00"),
      row("T3", "C1", 9900.0, "2024-01-03 09:00:00"),
      row("T4", "C2", 9500.0, "2024-01-01 10:00:00"))
      .toDF("transaction_id", "customer_id", "merchant_id", "amount_usd", "ts")
      .withColumn("transaction_timestamp", col("ts").cast("timestamp"))
    val hits = FintechGold.amlStructuring(crafted)
    val byCust = hits.select("customer_id").distinct().as[String].collect()
    assert(byCust.toSeq == Seq("C1"))
    assert(hits.filter(col("n_window") >= 3).count() == 1) // third txn triggers
  }

  test("EP1 ingestion pipeline: silver + quarantine + metrics end-to-end") {
    val root = Files.createTempDirectory("ep1").toString
    val env = EnvConfig.dev(root)
    // poison a slice: null customer_id on ~2% of rows, one out-of-bounds
    // amount, one NON-NUMERIC amount and one garbage timestamp — the two
    // parse-poison rows crash the whole job if any DQ predicate or silver
    // cast uses plain cast/to_timestamp under default ANSI mode; they must
    // instead quarantine
    val poisoned = bronzeTxns
      .withColumn("customer_id",
        when(rand(7) < 0.02, lit(null)).otherwise(col("customer_id")))
      .withColumn("amount",
        when(col("transaction_id") === "TXN000000001", lit("999999.99"))
          .when(col("transaction_id") === "TXN000000002", lit("not-a-number"))
          .otherwise(col("amount")))
      .withColumn("transaction_timestamp",
        when(col("transaction_id") === "TXN000000003", lit("garbage-ts"))
          .otherwise(col("transaction_timestamp")))
    val mon = new graft.monitoring.PipelineMonitor(spark, "ep1-test")
    val res = Pipeline.ingestTransactions(spark, poisoned, env, Some(mon))
    assert(res.validCount + res.quarantinedCount == 5000)
    assert(res.quarantinedCount > 0)
    assert(res.report.results.nonEmpty)
    // silver is partitioned by transaction_date and typed
    val silver = spark.read.parquet(s"${env.silverPath}/transactions")
    assert(silver.schema("amount").dataType == DecimalType(18, 2))
    val quarantine = spark.read.parquet(s"${env.quarantinePath}/transactions")
    assert(quarantine.columns.contains("_validation_failures"))
    // the parse-poison rows landed in quarantine with the right reasons,
    // not in silver (and not as a job-killing ANSI cast exception)
    val qByid = quarantine.select("transaction_id", "_validation_failures")
      .as[(String, Seq[String])].collect().toMap
    assert(qByid("TXN000000002").contains("CUSTOM_AMOUNT_IN_BOUNDS"))
    assert(qByid("TXN000000003").contains("CUSTOM_TIMESTAMP_PARSEABLE"))
    assert(silver.filter(col("transaction_id")
      .isin("TXN000000002", "TXN000000003")).count() == 0)
    assert(mon.metrics.head.recordsWritten == res.validCount)
    // partition pruning surface: date filter reads a subset of partitions
    val oneDay = silver.select("transaction_date").distinct().head().getDate(0)
    assert(silver.filter(col("transaction_date") === oneDay).count() > 0)
  }

  test("maintenance runner honors the enableOptimization flag") {
    val root = Files.createTempDirectory("maint").toString
    val path = s"$root/t"
    VersionedTable.append(spark, silverTxns.limit(100).repartition(12), path,
      optimizeWrite = false)
    val v0 = VersionedTable.latestVersion(path)
    assert(!Pipeline.runMaintenance(spark, EnvConfig.dev(root), path,
      Seq("transaction_date"), targetFiles = 4))
    assert(VersionedTable.latestVersion(path) == v0) // dev: no commit
    assert(Pipeline.runMaintenance(spark, EnvConfig.prod(root), path,
      Seq("transaction_date"), targetFiles = 4))
    val snap = VersionedTable.snapshot(spark, path)
    assert(snap.inputFiles.length <= 4)
    assert(snap.count() == 100)
  }

  test("DQ report failures map to severity-routed alerts") {
    val df = Seq(("T1", null.asInstanceOf[String])).toDF("id", "fk")
    val report = graft.dq.DataQualityChecker(df, "t")
      .checkCompleteness(Seq("fk"), threshold = 1.0,
        severity = graft.dq.Severity.Critical)
      .run()
    val alert = Pipeline.alertFromReport(report, "p").get
    assert(alert.severity == graft.alerting.AlertSeverity.P1)
    assert(alert.message.contains("completeness_fk"))
    val clean = graft.dq.DataQualityChecker(df, "t")
      .checkCompleteness(Seq("id")).run()
    assert(Pipeline.alertFromReport(clean, "p").isEmpty)
  }

  test("exchange-rate as-of enrichment covers every currency") {
    val out = graft.queries.FintechQueries.queries("q44_rate_asof")(spark, sfDir)
    assert(out.filter(col("asof_rate").isNull).count() == 0)
    assert(out.count() == 20000)
  }
}
