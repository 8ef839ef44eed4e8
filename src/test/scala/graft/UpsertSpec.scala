package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.io.{Upsert, VersionedTable, Writers}

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
    .toDF("id", "name", "amount")
  private def source = Seq((2, "B2", 99.0), (4, "d", 40.0))
    .toDF("id", "name", "amount")

  test("merge: matched rows take source values, unmatched kept/inserted") {
    val out = Upsert.merge(target, source, Seq("id"))
      .orderBy("id").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    assert(out(1).getAs[String]("name") == "B2")
    assert(out(1).getAs[Double]("amount") == 99.0)
    assert(out(0).getAs[String]("name") == "a")
    assert(out(3).getAs[Double]("amount") == 40.0)
  }

  test("merge with updateColumns limits which columns the source wins") {
    val out = Upsert.merge(target, source, Seq("id"),
      updateColumns = Some(Seq("amount"))).orderBy("id").collect()
    assert(out(1).getAs[String]("name") == "b")     // not updated
    assert(out(1).getAs[Double]("amount") == 99.0)  // updated
  }

  test("merge is null-safe: source NULL overwrites on match") {
    val s = Seq((2, null.asInstanceOf[String], 99.0)).toDF("id", "name", "amount")
    val out = Upsert.merge(target, s, Seq("id")).orderBy("id").collect()
    assert(out(1).getAs[String]("name") == null)
  }

  test("mergeStats returns real inserted/updated counts") {
    val st = Upsert.mergeStats(target, source, Seq("id"))
    assert(st == Upsert.MergeStats(inserted = 1, updated = 1))
  }

  test("append bootstraps, stats computed before merge, vacuum keeps merged rows") {
    val dir = Files.createTempDirectory("upsert").toString
    val path = s"$dir/t"
    VersionedTable.append(spark, target, path)
    val st = Upsert.mergeStats(VersionedTable.snapshot(spark, path), source,
      Seq("id"))
    assert(st == Upsert.MergeStats(inserted = 1, updated = 1))
    val liveBefore = VersionedTable.snapshot(spark, path).inputFiles.toSet
    VersionedTable.merge(spark, source, path, Seq("id"))
    val back = VersionedTable.snapshot(spark, path).orderBy("id").collect()
    assert(back.length == 4)
    assert(back(1).getAs[Double]("amount") == 99.0)
    // vacuum with retain=0 deletes exactly the files the merge retired
    // (the one holding id 2 among them) and the merged snapshot still
    // reads whole
    val retired = liveBefore --
      VersionedTable.snapshot(spark, path).inputFiles.toSet
    assert(retired.nonEmpty)
    assert(VersionedTable.vacuum(path, retainMs = 0) == retired.size)
    assert(VersionedTable.snapshot(spark, path).count() == 4)
  }

  test("maintenance compact reduces file count, preserves rows") {
    val dir = Files.createTempDirectory("compact").toString
    val path = s"$dir/t"
    VersionedTable.append(spark,
      Tables.load(spark, sfDir, "lineitem").repartition(16), path,
      optimizeWrite = false)
    def liveFiles = VersionedTable.snapshot(spark, path).inputFiles.length
    val before = liveFiles
    val n = VersionedTable.snapshot(spark, path).count()
    VersionedTable.compact(spark, path, targetFiles = 2)
    val after = liveFiles
    assert(before > after && after <= 2)
    assert(VersionedTable.snapshot(spark, path).count() == n)
    VersionedTable.vacuum(path, retainMs = 0)
    assert(VersionedTable.snapshot(spark, path).count() == n)
  }

  test("clusterBy rewrite preserves content and sorts within files") {
    val dir = Files.createTempDirectory("cluster").toString
    val path = s"$dir/t"
    VersionedTable.append(spark, Tables.load(spark, sfDir, "orders"), path)
    val n = VersionedTable.snapshot(spark, path).count()
    VersionedTable.compact(spark, path, targetFiles = 4,
      clusterBy = Seq("o_orderdate"))
    val snap = VersionedTable.snapshot(spark, path)
    assert(snap.count() == n)
    snap.inputFiles.foreach { f =>
      val dates = spark.read.parquet(f).select("o_orderdate")
      assert(dates.collect().toSeq == dates.orderBy("o_orderdate").collect()
        .toSeq, s"$f is not sorted on o_orderdate")
    }
    VersionedTable.vacuum(path, retainMs = 0)
  }

  test("schema evolution: readMerged unions columns across file versions") {
    val dir = Files.createTempDirectory("evolve").toString
    Seq((1, "a")).toDF("id", "v1").write.parquet(s"$dir/t/p1")
    Seq((2, "b", 9.5)).toDF("id", "v1", "v2").write.parquet(s"$dir/t/p2")
    val merged = Writers.readMerged(spark, s"$dir/t/*")
    assert(merged.columns.toSet == Set("id", "v1", "v2"))
    assert(merged.count() == 2)
    assert(merged.filter(col("v2").isNull).count() == 1)
  }

  test("bucketed tables join without any exchange") {
    val o = Tables.load(spark, sfDir, "orders")
    val c = Tables.load(spark, sfDir, "customer")
    Writers.writeBucketed(o, "b_orders", 8, Seq("o_custkey"))
    Writers.writeBucketed(
      c.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", 8,
      Seq("o_custkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), Seq("o_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
      assert(joined.count() == o.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE b_orders")
      spark.sql("DROP TABLE b_customer")
    }
  }

  test("writers roundtrip with partitionBy and registerTable") {
    val dir = Files.createTempDirectory("writers").toString
    val path = s"$dir/orders"
    val o = Tables.load(spark, sfDir, "orders")
    Writers.writeParquet(o, path, partitionBy = Seq("o_orderstatus"))
    assert(spark.read.parquet(path).count() == o.count())
    Writers.registerTable(spark, path, "testdb", "orders_t", partitioned = true)
    assert(spark.table("testdb.orders_t").count() == o.count())
    spark.sql("DROP TABLE testdb.orders_t")
    spark.sql("DROP DATABASE testdb")
  }
}
