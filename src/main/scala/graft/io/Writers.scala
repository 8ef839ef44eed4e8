package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sinks and DDL (SURVEY §2.2, W1–W4).
  *
  * The reference writes Delta (reference `src/utils/spark_utils.py:203-282`);
  * this environment has no Delta jars, so the same *semantics* are provided
  * over partitioned parquet: overwrite/append modes, `partitionBy` for
  * partition pruning, schema merge on read, and catalog registration so
  * `spark.table(db.t)` works.
  *
  * Scale note: `partitionBy` on a low-cardinality column (e.g. a date) is the
  * primary pruning lever at 100 TB — a date-filtered query then touches only
  * matching directories. Never partition by a high-cardinality key (file
  * explosion); bucket instead, or cluster a versioned table with
  * `VersionedTable.compact(clusterBy = ..., zorder = true)`.
  */
object Writers {

  /** Parquet write with the reference's defaults (spark_utils.py:203-245):
    * overwrite, optional partition columns. Schema evolution
    * (`mergeSchema=true` on the reference's writes) is handled on the read
    * side: `readMerged` below sets `mergeSchema` so files written with added
    * columns union cleanly.
    */
  def writeParquet(
      df: DataFrame,
      path: String,
      mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** Read a parquet dir written across schema versions, unioning columns
    * (the reference's mergeSchema=true contract, spark_utils.py:233-235). */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Register a parquet location as an external table
    * (reference spark_utils.py:248-282): CREATE DATABASE IF NOT EXISTS +
    * CREATE TABLE ... USING PARQUET LOCATION. */
  def registerTable(
      spark: SparkSession,
      path: String,
      database: String,
      table: String,
      partitioned: Boolean = false): Unit = {
    // identifiers/literal are interpolated into SQL text: escape the
    // quoting character of each position so a hostile or merely unusual
    // name/path can't break out of its quotes. Identifiers are
    // backtick-doubled; the LOCATION literal must use Spark's
    // BACKSLASH-escaped string dialect — SQL-standard '' doubling is NOT
    // an escape in Spark ('it''s' lexes as two adjacent tokens, a parse
    // error after LOCATION), and an unescaped backslash would be eaten
    // as an escape sequence ('C:\table' → TAB). Escape the escape
    // character first, then the quote. (With the legacy
    // spark.sql.parser.escapedStringLiterals=true the backslashes pass
    // through verbatim — quotes still cannot break out lexically.)
    val db = database.replace("`", "``")
    val tbl = table.replace("`", "``")
    val loc = path.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS `$db`.`$tbl` USING PARQUET LOCATION '$loc'")
    // external partitioned locations need partition discovery before the
    // catalog sees any data
    if (partitioned) spark.sql(s"MSCK REPAIR TABLE `$db`.`$tbl`")
  }

  /** Append rows to a managed table, creating it on first write
    * (reference monitoring.py:224-235). */
  def appendToTable(df: DataFrame, tableName: String): Unit =
    df.write.mode(SaveMode.Append).format("parquet").saveAsTable(tableName)

  /** Bucketed managed table: pre-hash-partitioned on `bucketCols` so
    * repeated joins/aggregations on those keys read co-located buckets and
    * skip the shuffle entirely — the bucketing lever from SURVEY §2 /
    * SCALING.md (verified by a no-Exchange plan assertion in tests).
    * `sortCols` additionally sorts within buckets (sort-merge joins then
    * skip the sort too). */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      numBuckets: Int,
      bucketCols: Seq[String],
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(tableName)
  }

  /** Existence probe (reference uses `DESCRIBE db.table` wrapped in
    * try/except, spark_utils.py:616-636; the catalog API is the idiomatic
    * Spark form). */
  def tableExists(spark: SparkSession, tableName: String): Boolean =
    spark.catalog.tableExists(tableName)
}
