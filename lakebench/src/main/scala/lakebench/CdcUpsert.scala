package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.VersionedTable
import graft.ops.IncrementalAgg

/** Small commits against a large versioned table: each iteration MERGEs
  * one CDC batch (updates skewed toward recent ids, plus inserts), folds
  * the commit's change feed into a per-merchant aggregate, serves a few
  * key-range lookups and compacts small files when any are eligible. A
  * last-write-wins model of every batch, kept on the driver, is the
  * answer key. */
object CdcUpsert extends Workload {

  val BaseRows = 200000
  val BatchRows = 2000
  val Inserts = BatchRows / 5
  val Merchants = 500
  val Lookups = 8
  val LookupKeys = 100
  /** Initial data files of the bootstrap commit (disjoint id ranges). */
  val BaseFiles = 16
  val SmallBytes: Long = 1L << 20
  val TargetBytes: Long = 4L << 20

  val Schema: StructType = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("customer_id", StringType),
    StructField("merchant_id", StringType),
    StructField("amount", DecimalType(18, 2)),
    StructField("status", StringType),
    StructField("seq", IntegerType)))

  def row(t: Gen.Txn): Row = Row(Gen.txnKey(t.id), f"CUST${t.customer}%06d",
    merchantKey(t.merchant), java.math.BigDecimal.valueOf(t.amountCents, 2),
    Gen.Statuses(t.status), t.seq)

  def merchantKey(m: Int): String = f"MERCH$m%05d"

  def frame(spark: SparkSession, rows: Seq[Gen.Txn]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(row): _*), Schema)

  def setUp(ctx: Ctx): Instance = new Instance {
    val spark: SparkSession = ctx.spark
    val table: String = ctx.dir.resolve("silver_transactions").toString
    val model: mutable.ArrayBuffer[Gen.Txn] =
      mutable.ArrayBuffer.from(Gen.cdcBase(ctx.seed, BaseRows, Merchants))
    VersionedTable.append(spark,
      frame(spark, model.toSeq).repartitionByRange(BaseFiles, col("transaction_id")),
      table, statsFor = Seq("transaction_id"), optimizeWrite = false)
    var version: Long = VersionedTable.latestVersion(table).get
    /** Per-merchant (count, cents) of the model: the aggregate's key. */
    val perMerchant: Array[(Long, Long)] = Array.fill(Merchants)((0L, 0L))
    model.foreach(t => bump(t, 1))
    var state: DataFrame = IncrementalAgg.sumState(
      VersionedTable.snapshot(spark, table), Seq("merchant_id"), "amount")
      .localCheckpoint()

    def bump(t: Gen.Txn, sign: Int): Unit = {
      val (n, c) = perMerchant(t.merchant)
      perMerchant(t.merchant) = (n + sign, c + sign * t.amountCents)
    }

    def rowsPerIteration: Long = BatchRows

    def iteration(i: Int): Unit = {
      val b = i + 1
      val batch = Gen.cdcBatch(ctx.seed, b, BatchRows, Inserts, model.size,
        Merchants, model)
      val source = ctx.dir.resolve(s"cdc/$b").toString
      ctx.untimed { frame(spark, batch.toSeq).coalesce(1).write.parquet(source) }
      ctx.rec.note("user_bytes",
        spark.read.parquet(source).inputFiles.map(Io.size).sum.toDouble)
      batch.foreach { t =>
        if (t.id < model.size) { bump(model(t.id), -1); model(t.id) = t }
        else model += t
        bump(t, 1)
      }

      val prev = version
      val commit = ctx.op("write", "io.merge") {
        VersionedTable.merge(spark, spark.read.parquet(source), table,
          Seq("transaction_id")) }
      version = commit.version
      ctx.rec.note("merges", 1)
      ctx.rec.note("merge_changed_rows", BatchRows)
      ctx.rec.note("merge_files_rewritten", commit.remove.size)

      state = ctx.op("other", "ops.incrementalAgg") {
        val cdf = VersionedTable.changeFeed(spark, table, prev, version,
          Seq("transaction_id"), includePreimage = true)
        IncrementalAgg.applyChangeFeed(state, cdf, Seq("merchant_id"), "amount")
          .localCheckpoint()
      }
      ctx.check(s"batch $b: per-merchant aggregate equals the model") {
        val got = state.collect().map(r =>
          r.getString(0) -> (r.getLong(1), r.getDecimal(2).unscaledValue.longValueExact)).toMap
        val want = perMerchant.indices.filter(m => perMerchant(m)._1 > 0)
          .map(m => merchantKey(m) -> perMerchant(m)).toMap
        got == want
      }

      val r = Gen.rng(ctx.seed, "cdc-lookup", b)
      for (_ <- 0 until Lookups) {
        val lo = math.max(0, Gen.skewedId(r, model.size) - LookupKeys + 1)
        val hi = lo + LookupKeys - 1
        val (rows, df) = ctx.op("read", "io.snapshotWhere") {
          val df = VersionedTable.snapshotWhere(spark, table, "transaction_id",
            Some(Gen.txnKey(lo)), Some(Gen.txnKey(hi)))
          (df.collect(), df)
        }
        if (ctx.trace.isDefined) ctx.untimed {
          ctx.rec.note("lookup_files_scanned", df.inputFiles.length)
          ctx.rec.note("lookup_live_files",
            VersionedTable.snapshot(spark, table).inputFiles.length)
        }
        ctx.check(s"batch $b: lookup [$lo, $hi] returns the model's rows") {
          rows.map(r => r.toSeq).toSet ==
            (lo to math.min(hi, model.size - 1)).map(k => row(model(k)).toSeq).toSet
        }
      }

      // compaction is a write only when it commits
      val t0 = System.nanoTime()
      val compacted = ctx.op("other", "io.compactSmallFiles") {
        VersionedTable.compactSmallFiles(spark, table, SmallBytes, TargetBytes) }
      compacted.foreach { c =>
        version = c.version
        ctx.rec.add("write", (System.nanoTime() - t0) / 1e9)
      }
    }

    override def finish(full: Boolean): Map[String, Double] = {
      ctx.check("final snapshot equals the last-write-wins model") {
        val hash = xxhash64(Schema.fieldNames.toSeq.map(col): _*)
        def digest(df: DataFrame): Row =
          df.agg(count(lit(1)), sum(hash.cast(DecimalType(38, 0)))).head()
        digest(VersionedTable.snapshot(spark, table)) ==
          digest(frame(spark, model.toSeq))
      }
      if (full) Io.footprint(spark, java.nio.file.Paths.get(table),
        ctx.dir.resolve("compacted"))
      else Map.empty
    }
  }
}
