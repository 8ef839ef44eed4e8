package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.functions._

import graft.io.{VersionedTable => VT}

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def withTable[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft-vt")
    try body(dir.resolve("t").toString)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  private def df(pairs: (Int, String)*) = pairs.toDF("id", "v")

  test("append/snapshot: versions accumulate, time travel reads each") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)
      VT.append(spark, df(3 -> "c"), t)
      assert(VT.latestVersion(t).contains(1L))
      assert(VT.snapshot(spark, t, Some(0)).count() == 2)
      assert(VT.snapshot(spark, t).count() == 3)
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq == Seq(1 -> "a", 2 -> "b", 3 -> "c"))
    }
  }

  test("overwrite replaces; old versions stay readable") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)
      VT.overwrite(spark, df(9 -> "z"), t)
      assert(VT.snapshot(spark, t).as[(Int, String)].collect().toSeq ==
        Seq(9 -> "z"))
      assert(VT.snapshot(spark, t, Some(0)).count() == 2)
    }
  }

  test("merge upserts through the log") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)
      VT.merge(spark, df(2 -> "B", 3 -> "c"), t, Seq("id"))
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq == Seq(1 -> "a", 2 -> "B", 3 -> "c"))
    }
  }

  test("restore rolls forward to an old state; history records it") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)          // v0
      VT.append(spark, df(2 -> "b"), t)          // v1
      VT.overwrite(spark, df(9 -> "z"), t)       // v2
      VT.restore(spark, t, 1)                    // v3 == state at v1
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq == Seq(1 -> "a", 2 -> "b"))
      val h = VT.history(spark, t).orderBy("version")
        .select("op").as[String].collect().toSeq
      assert(h == Seq("append", "append", "overwrite", "restore"))
    }
  }

  test("deleteWhere rewrites only files containing matches") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)  // file A
      VT.append(spark, df(3 -> "c", 4 -> "d"), t)  // file B
      val c = VT.deleteWhere(spark, t, col("id") === 3)
      // only file B is rewritten: one removed, >=1 added
      assert(c.remove.size >= 1 && c.remove.size <= 2)
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq == Seq(1 -> "a", 2 -> "b", 4 -> "d"))
      // file A survived untouched (its rows via old version still present)
      assert(VT.snapshot(spark, t, Some(0)).count() == 2)
    }
  }

  test("deleteWhere across a schema-evolved hit set keeps the newer " +
    "columns (mergeSchema rewrite, no silent loss)") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)        // file: {id, v}
      VT.append(spark, Seq((3, "c", 30L), (4, "d", 40L))
        .toDF("id", "v", "extra"), t, mergeSchema = true) // file: +extra
      // predicate hits BOTH files: the survivor rewrite must carry
      // `extra` — a single-footer inference could infer the narrow
      // schema and rewrite file 2's survivors without it
      VT.deleteWhere(spark, t, col("id").isin(1, 3))
      val back = VT.snapshot(spark, t).orderBy("id")
        .select("id", "v", "extra").collect()
      assert(back.map(r => (r.getInt(0), r.getString(1))).toSeq ==
        Seq(2 -> "b", 4 -> "d"))
      assert(back(1).getLong(2) == 40L, "evolved column lost in rewrite")
    }
  }

  test("merge with a source-only column EVOLVES the schema: matched " +
    "rows take the values, survivors read null") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)
      VT.merge(spark,
        Seq((2, "b2", 99L), (5, "e", 55L)).toDF("id", "v", "score"),
        t, Seq("id"))
      val back = VT.snapshot(spark, t).orderBy("id").collect()
      assert(back.map(_.getInt(0)).toSeq == Seq(1, 2, 5))
      val score = back.map(r =>
        if (r.isNullAt(r.fieldIndex("score"))) -1L
        else r.getLong(r.fieldIndex("score")))
      // untouched row null, updated row 99, inserted row 55
      assert(score.toSeq == Seq(-1L, 99L, 55L), score.mkString(","))
    }
  }

  test("deleteWhere with no matches commits a no-op") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      val c = VT.deleteWhere(spark, t, col("id") === 99)
      assert(c.add.isEmpty && c.remove.isEmpty)
      assert(VT.snapshot(spark, t).count() == 1)
    }
  }

  test("optimized write coalesces a many-partition tiny append to few " +
      "files; optimizeWrite=false preserves input partitioning") {
    withTable { t =>
      val wide = spark.range(0, 1000, 1, 32)
        .selectExpr("id", "CAST(id AS STRING) AS v")
      val c = VT.append(spark, wide.toDF(), t)
      // AQE rebalance folds 32 near-empty partitions into ~1 file —
      // the anti-small-file contract for streaming micro-batch appends
      assert(c.add.size <= 4, s"optimized append wrote ${c.add.size} files")
      val c2 = VT.append(spark, wide.toDF(), t, optimizeWrite = false)
      assert(c2.add.size == 32) // raw mode: one file per input partition
      assert(VT.snapshot(spark, t).count() == 2000)
    }
  }

  test("schema enforcement judges the FULL lineage: a type change can't " +
      "masquerade as a new column after a subset-schema append") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)                     // (id, v)
      VT.append(spark, Seq(Tuple1(2)).toDF("id"), t)        // subset: (id)
      // v is absent from the LATEST commit schema but lives in v0's
      // files — re-typing it must still be rejected, even with the
      // evolution flag
      intercept[VT.SchemaEnforcementException] {
        VT.append(spark, Seq((3, 9L)).toDF("id", "v"), t, mergeSchema = true)
      }
      // and re-appending it with the ORIGINAL type is not "evolution" —
      // no mergeSchema needed
      VT.append(spark, df(3 -> "c"), t)
      assert(VT.snapshot(spark, t).count() == 3)
    }
  }

  test("slot-race revalidation: a loser whose racer set a conflicting " +
      "schema fails loudly instead of committing mixed types") {
    import java.nio.file.Path
    val conflicting = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType))).json
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racer = new graft.io.CommitArbiter {
      def tryClaim(dir: Path, target: Path, json: String): Boolean = {
        if (fired.getAndSet(true)) {
          graft.io.CommitArbiter.PosixLink.tryClaim(dir, target, json)
        } else {
          // a racing first-writer wins the slot with a STRING-typed id
          // commit; this writer observes the loss and must re-validate
          val theirs =
            s"""{"version":0,"ts":0,"op":"append","add":[],""" +
              s""""remove":[],"schema":${graft.util.Fmt.jsonString(conflicting)}}"""
          graft.io.CommitArbiter.PosixLink.tryClaim(dir, target, theirs)
          false
        }
      }
    }
    val prev = VT.commitArbiter
    try {
      VT.commitArbiter = racer
      withTable { t =>
        intercept[VT.SchemaEnforcementException] {
          VT.append(spark, df(1 -> "a"), t) // id is INT here
        }
      }
    } finally VT.commitArbiter = prev
  }

  test("deletion vectors: deferred delete rewrites nothing, reads " +
      "subtract, time travel sees pre-delete rows") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)            // v0
      VT.append(spark, df(3 -> "c", 4 -> "d"), t)            // v1
      val filesBefore = VT.snapshot(spark, t).inputFiles.toSet
      val c = VT.deleteWhereDeferred(spark, t, col("id") % 2 === 0) // v2
      assert(c.add.isEmpty && c.remove.isEmpty && c.dvAdd.nonEmpty)
      // no DATA file touched — the delete is a sidecar (which the read
      // plan scans for the anti-join, hence the -dv filter here)
      assert(VT.snapshot(spark, t).inputFiles.toSet
        .filterNot(_.contains("-dv")) == filesBefore)
      assert(VT.snapshot(spark, t).select("id").as[Int].collect().sorted
        .toSeq == Seq(1, 3))
      // pre-delete version unaffected
      assert(VT.snapshot(spark, t, Some(1)).count() == 4)
      // a second deferred delete composes (and cannot re-delete)
      VT.deleteWhereDeferred(spark, t, col("id") <= 3)       // v3
      assert(VT.snapshot(spark, t).count() == 0)
      // snapshotWhere applies DVs too
      VT.append(spark, df(10 -> "j"), t)                     // v4
      assert(VT.snapshotWhere(spark, t, "id", lo = Some(0L))
        .count() == 1)
    }
  }

  test("deletion vectors: compact materializes and clears; rewriting ops " +
      "refuse to run over active DVs") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b", 3 -> "c"), t)  // v0
      VT.deleteWhereDeferred(spark, t, col("id") === 2)      // v1
      // raw-file rewriters would resurrect DV'd rows — they must refuse
      intercept[IllegalStateException] {
        VT.merge(spark, df(9 -> "z"), t, Seq("id"))
      }
      intercept[IllegalStateException] {
        VT.deleteWhere(spark, t, col("id") === 1)
      }
      VT.compact(spark, t, targetFiles = 1)                  // v2
      assert(VT.snapshot(spark, t).select("id").as[Int].collect().sorted
        .toSeq == Seq(1, 3))
      // DVs are gone: merge works again
      VT.merge(spark, df(9 -> "z"), t, Seq("id"))            // v3
      assert(VT.snapshot(spark, t).count() == 3)
      // and time travel to the DV version still subtracts
      assert(VT.snapshot(spark, t, Some(1)).count() == 2)
    }
  }

  test("deletion vectors: changeFeed emits DV deletes with payload; " +
      "restore brings DV state back and forth") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b", 3 -> "c"), t)  // v0
      VT.deleteWhereDeferred(spark, t, col("id") === 2)      // v1
      val feed = VT.changeFeed(spark, t, 0, 1, Seq("id"))
        .select("id", "v", "_change_type")
        .as[(Int, String, String)].collect().toSeq
      assert(feed == Seq((2, "b", "delete")))
      // a delete already DV'd at `from` must NOT re-surface in a wider
      // range that also rewrites the files
      VT.compact(spark, t, targetFiles = 1)                  // v2
      val feed2 = VT.changeFeed(spark, t, 1, 2, Seq("id")).count()
      assert(feed2 == 0) // compaction materialized — no logical change
      VT.restore(spark, t, 1)                                // v3: DV back
      assert(VT.snapshot(spark, t).count() == 2)
      VT.restore(spark, t, 0)                                // v4: pre-DV
      assert(VT.snapshot(spark, t).count() == 3)
    }
  }

  test("deletion vectors: vacuum keeps live DV sidecars, ages out " +
      "materialized ones") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)            // v0
      val c = VT.deleteWhereDeferred(spark, t, col("id") === 1) // v1
      val dvFile = c.dvAdd.head
      // live DV is never GC'd regardless of horizon
      VT.vacuum(t, retainMs = 0L,
        nowMs = System.currentTimeMillis() + 1000000L)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(t, dvFile)))
      assert(VT.snapshot(spark, t).count() == 1)
      // after materialization the sidecar ages out with the old files
      VT.compact(spark, t, targetFiles = 1)                  // v2
      VT.vacuum(t, retainMs = 0L,
        nowMs = System.currentTimeMillis() + 1000000L)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(t, dvFile)))
      assert(VT.snapshot(spark, t).count() == 1)
    }
  }

  test("deletion vectors: changeFeed diffs DV ENTRIES, not sidecar " +
      "files — restore resurrection emits inserts, restore + re-delete " +
      "emits nothing") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b", 3 -> "c"), t)  // v0
      VT.deleteWhereDeferred(spark, t, col("id") === 2)      // v1
      VT.restore(spark, t, 0)                                // v2: DV gone
      // rows resurrected by DROPPING a sidecar over a carried file are
      // pure inserts — a sidecar-file-level diff (added files only)
      // misses them entirely
      val feed12 = VT.changeFeed(spark, t, 1, 2, Seq("id"))
        .select("id", "v", "_change_type")
        .as[(Int, String, String)].collect().toSeq
      assert(feed12 == Seq((2, "b", "insert")))
      VT.deleteWhereDeferred(spark, t, col("id") === 2)      // v3: fresh
      // v1 and v3 are logically IDENTICAL states whose sidecar file sets
      // differ (the re-delete wrote a fresh sidecar covering the same
      // (file, row)) — a file-level diff emits a phantom second delete
      assert(VT.changeFeed(spark, t, 1, 3, Seq("id")).count() == 0)
      // and the plain re-delete range still reports the one delete
      val feed23 = VT.changeFeed(spark, t, 2, 3, Seq("id"))
        .select("id", "v", "_change_type")
        .as[(Int, String, String)].collect().toSeq
      assert(feed23 == Seq((2, "b", "delete")))
    }
  }

  test("deletion vectors: compactBySize at target file count still " +
      "materializes active DVs (never leaves the table DV-blocked)") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b", 3 -> "c"), t)  // v0
      VT.compact(spark, t, targetFiles = 1)                  // v1
      assert(VT.compactBySize(spark, t).isEmpty) // no DVs: no-op is right
      VT.deleteWhereDeferred(spark, t, col("id") === 2)      // v2
      // one file <= target, but the DV must still be materialized
      assert(VT.compactBySize(spark, t).nonEmpty)            // v3
      VT.merge(spark, df(9 -> "z"), t, Seq("id"))            // unblocked
      assert(VT.snapshot(spark, t).select("id").as[Int].collect().sorted
        .toSeq == Seq(1, 3, 9))
    }
  }

  test("deletion vectors: zero-match deferred delete commits a no-op " +
      "with no sidecar left behind") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)                      // v0
      val c = VT.deleteWhereDeferred(spark, t, col("id") === 999) // v1
      assert(c.dvAdd.isEmpty && c.add.isEmpty && c.remove.isEmpty)
      assert(VT.latestVersion(t).contains(1L))
      assert(VT.snapshot(spark, t).count() == 1)
      val l = Files.list(java.nio.file.Paths.get(t))
      try {
        import scala.jdk.CollectionConverters._
        assert(!l.iterator().asScala.exists(
          _.getFileName.toString.contains("-dv")))
      } finally l.close()
    }
  }

  // injects a REAL interleaved commit at the moment the op under test
  // tries to claim its log slot: the first claim loses after `race` runs,
  // forcing the op through the conflict/rebase path on its retry
  private def withRacer[T](race: => Unit)(body: => T): T = {
    import java.nio.file.Path
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racer = new graft.io.CommitArbiter {
      def tryClaim(dir: Path, target: Path, json: String): Boolean =
        if (fired.getAndSet(true))
          graft.io.CommitArbiter.PosixLink.tryClaim(dir, target, json)
        else { race; false } // the nested op claims THIS slot for real
    }
    val prev = VT.commitArbiter
    try { VT.commitArbiter = racer; body }
    finally VT.commitArbiter = prev
  }

  test("WriteSerializable: OPTIMIZE rebases over an interleaved blind " +
      "append instead of aborting") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)            // v0
      withRacer(VT.append(spark, df(9 -> "z"), t)) {         // steals v1
        VT.compact(spark, t, targetFiles = 1)                // rebases: v2
      }
      assert(VT.latestVersion(t).contains(2L))
      // compacted rows AND the racer's appended row both survive
      assert(VT.snapshot(spark, t).select("id").as[Int].collect().sorted
        .toSeq == Seq(1, 2, 9))
    }
  }

  test("Serializable isolation: the same interleaved append aborts") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)                      // v0
      withRacer(VT.append(spark, df(9 -> "z"), t)) {
        intercept[VT.ConcurrentWriteException] {
          VT.compact(spark, t, targetFiles = 1,
            isolation = VT.Isolation.Serializable)
        }
      }
      // the racer's append still landed; nothing was lost or corrupted
      assert(VT.snapshot(spark, t).count() == 2)
    }
  }

  test("WriteSerializable: an interleaved NON-append (DV delete) is a " +
      "real conflict and still aborts") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)            // v0
      withRacer(VT.deleteWhereDeferred(spark, t, col("id") === 1)) {
        intercept[VT.ConcurrentWriteException] {
          VT.merge(spark, df(2 -> "B"), t, Seq("id"))
        }
      }
      // racer's deferred delete landed; the failed merge changed nothing
      assert(VT.snapshot(spark, t).select("id").as[Int].collect().toSeq
        == Seq(2))
    }
  }

  test("concurrent appends both land (optimistic slot retry)") {
    withTable { t =>
      VT.append(spark, df(0 -> "seed"), t)
      val threads = (1 to 4).map { i =>
        new Thread(() => {
          VT.append(spark, Seq((i, s"w$i")).toDF("id", "v"), t)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(VT.snapshot(spark, t).count() == 5)
      assert(VT.latestVersion(t).contains(4L))
    }
  }

  test("commitArbiter is pluggable: commits route through the installed " +
      "arbiter; a slot denial surfaces as the lost-race path") {
    import java.nio.file.Path
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val denyFirst = new java.util.concurrent.atomic.AtomicBoolean(true)
    val spy = new graft.io.CommitArbiter {
      def tryClaim(dir: Path, target: Path, json: String): Boolean = {
        seen.incrementAndGet()
        // deny exactly one claim: append must retry the NEXT slot —
        // the loser-observes-a-loss contract, driven through a custom
        // arbiter instead of a real filesystem race
        if (denyFirst.getAndSet(false)) false
        else graft.io.CommitArbiter.PosixLink.tryClaim(dir, target, json)
      }
    }
    val prev = VT.commitArbiter
    try {
      VT.commitArbiter = spy
      withTable { t =>
        VT.append(spark, df(1 -> "a"), t)
        assert(seen.get() >= 2) // denied claim + successful retry
        assert(VT.snapshot(spark, t).count() == 1)
      }
    } finally VT.commitArbiter = prev
  }

  test("stale overwrite raises ConcurrentWriteException, loses nothing") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)                   // v0
      VT.append(spark, df(2 -> "b"), t)                   // v1 (interloper)
      intercept[VT.ConcurrentWriteException] {
        VT.overwrite(spark, df(9 -> "z"), t, expectVersion = Some(0))
      }
      assert(VT.snapshot(spark, t).count() == 2)
    }
  }

  test("checkpoint bounds replay; snapshots cross the checkpoint correctly") {
    withTable { t =>
      (0 until 13).foreach(i => VT.append(spark, df(i -> s"r$i"), t))
      assert(VT.snapshot(spark, t).count() == 13)
      assert(VT.snapshot(spark, t, Some(11)).count() == 12)
      // checkpoint file exists at v10
      assert(Files.exists(java.nio.file.Paths.get(
        t, "_graft_log", f"${10L}%020d.checkpoint")))
    }
  }

  test("vacuum GCs retired files but never the live snapshot") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      VT.overwrite(spark, df(2 -> "b"), t)
      // retention 0 → v0's file is GC-able immediately
      val removed = VT.vacuum(t, retainMs = 0,
        nowMs = System.currentTimeMillis() + 1000)
      assert(removed >= 1)
      assert(VT.snapshot(spark, t).as[(Int, String)].collect().toSeq ==
        Seq(2 -> "b"))
      intercept[IllegalStateException] { VT.restore(spark, t, 0) }
    }
  }

  test("compact merges files, history preserved") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      VT.append(spark, df(2 -> "b"), t)
      VT.append(spark, df(3 -> "c"), t)
      VT.compact(spark, t, targetFiles = 1)
      assert(VT.snapshot(spark, t).count() == 3)
      assert(VT.snapshot(spark, t, Some(1)).count() == 2)
      val dataFiles = Files.list(java.nio.file.Paths.get(t))
      val live = try {
        import scala.jdk.CollectionConverters._
        dataFiles.iterator().asScala.count(
          _.getFileName.toString.endsWith(".parquet"))
      } finally dataFiles.close()
      assert(live >= 4) // 3 originals + 1 compacted, none vacuumed yet
    }
  }

  test("change feed classifies insert/update/delete between versions") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b", 3 -> "c"), t)        // v0
      VT.merge(spark, df(2 -> "B", 4 -> "d"), t, Seq("id"))        // v1
      VT.deleteWhere(spark, t, col("id") === 1)                    // v2
      val cdf = VT.changeFeed(spark, t, 0, 2, Seq("id"))
        .orderBy("id").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      assert(cdf == Seq((1, "a", "delete"), (2, "B", "update_postimage"),
        (4, "d", "insert")))
    }
  }

  test("change feed with preimages emits both update sides") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)
      VT.merge(spark, df(2 -> "B"), t, Seq("id"))
      val cdf = VT.changeFeed(spark, t, 0, 1, Seq("id"),
          includePreimage = true)
        .orderBy("id", "_change_type").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      assert(cdf == Seq((2, "B", "update_postimage"),
        (2, "b", "update_preimage")))
    }
  }

  test("idempotent txn append: replayed batch commits nothing new") {
    withTable { t =>
      val c1 = VT.appendIdempotent(spark, df(1 -> "a"), t, "app", 0L)
      val c2 = VT.appendIdempotent(spark, df(2 -> "b"), t, "app", 1L)
      // replay batch 0 with DIFFERENT data — the original commit wins
      val c3 = VT.appendIdempotent(spark, df(9 -> "z"), t, "app", 0L)
      assert(c3.version == c1.version && c3.add == c1.add)
      assert(VT.latestVersion(t).contains(c2.version))
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq == Seq(1 -> "a", 2 -> "b"))
      // a different app id is a different transaction
      VT.appendIdempotent(spark, df(3 -> "c"), t, "other", 0L)
      assert(VT.snapshot(spark, t).count() == 3)
    }
  }

  test("schema evolution: snapshot unions columns across commit schemas") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      // new column requires the explicit mergeSchema opt-in (enforcement)
      intercept[VT.SchemaEnforcementException] {
        VT.append(spark, Seq((2, "b", 7.5)).toDF("id", "v", "score"), t)
      }
      // and a TYPE change is rejected even with mergeSchema
      intercept[VT.SchemaEnforcementException] {
        VT.append(spark, Seq((2, 9L)).toDF("id", "v"), t,
          mergeSchema = true)
      }
      VT.append(spark,
        Seq((2, "b", 7.5)).toDF("id", "v", "score"), t,
        mergeSchema = true)
      val snap = VT.snapshot(spark, t)
      assert(snap.columns.toSet == Set("id", "v", "score"))
      val rows = snap.orderBy("id")
        .collect().map(r => (r.getInt(0), r.getString(1),
          Option(r.get(r.fieldIndex("score"))))).toSeq
      assert(rows == Seq((1, "a", None), (2, "b", Some(7.5))))
      // v0 alone predates the evolution — no phantom column
      assert(VT.snapshot(spark, t, Some(0)).columns.toSeq == Seq("id", "v"))
    }
  }

  test("schema enforcement: overwrite(overwriteSchema) truly re-types — " +
      "a dead column's old type does not haunt the lineage") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)                      // v: string
      // drop v entirely, then re-add it with a NEW type: legal, because
      // the overwrite removed every file that carried the old type
      VT.overwrite(spark, Seq(1).toDF("id"), t,
        overwriteSchema = true)
      VT.append(spark, Seq((2, 9L)).toDF("id", "v"), t,
        mergeSchema = true)                                  // v: bigint
      val snap = VT.snapshot(spark, t)
      assert(snap.columns.toSet == Set("id", "v"))
      assert(snap.schema("v").dataType ==
        org.apache.spark.sql.types.LongType)
    }
  }

  test("schema enforcement: merge rejects a source that coerces a " +
      "column's type instead of committing the widened schema") {
    withTable { t =>
      VT.append(spark, Seq((1, 10)).toDF("id", "n"), t)      // n: int
      intercept[VT.SchemaEnforcementException] {
        // LONG source n would silently widen n to BIGINT via the
        // merge expression's type coercion
        VT.merge(spark, Seq((1, 99L)).toDF("id", "n"), t, Seq("id"))
      }
      // a well-typed source still merges, and NEW columns still evolve
      VT.merge(spark, Seq((1, 99, "x")).toDF("id", "n", "tag"), t,
        Seq("id"))
      assert(VT.snapshot(spark, t).select("n").as[Int].head() == 99)
    }
  }

  test("schema enforcement: a case-variant column is a type change, " +
      "not a new column (Spark resolves names case-insensitively)") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)                      // v: string
      intercept[VT.SchemaEnforcementException] {
        VT.append(spark, Seq((2, 9L)).toDF("id", "V"), t,
          mergeSchema = true)
      }
      // same case-variant NAME with the same type is fine (no clash)
      VT.append(spark, Seq((2, "b")).toDF("id", "V"), t)
      assert(VT.snapshot(spark, t).count() == 2)
    }
  }

  test("bootstrap overwrite race: the slot loser REPLACES the racer's " +
      "rows instead of unioning with them") {
    withTable { t =>
      withRacer(VT.overwrite(spark, df(9 -> "z"), t)) {      // steals v0
        VT.overwrite(spark, df(1 -> "a"), t)                 // lands v1
      }
      assert(VT.latestVersion(t).contains(1L))
      // replace semantics: only the last overwrite's rows survive
      assert(VT.snapshot(spark, t).as[(Int, String)].collect().toSeq ==
        Seq(1 -> "a"))
      // and the racer's version stays readable (its own rows only)
      assert(VT.snapshot(spark, t, Some(0)).as[(Int, String)].collect()
        .toSeq == Seq(9 -> "z"))
    }
  }

  test("idempotent replay survives a later re-typing overwrite: the " +
      "txn check answers before schema validation can throw") {
    withTable { t =>
      val c1 = VT.appendIdempotent(spark, df(1 -> "a"), t, "app", 7L)
      VT.overwrite(spark, Seq((1, 5L)).toDF("id", "v"), t,
        overwriteSchema = true) // v re-typed string -> bigint
      // replaying txn 7 with the OLD frame must return the original
      // commit, not trip enforcement against the new schema
      val replay = VT.appendIdempotent(spark, df(1 -> "a"), t, "app", 7L)
      assert(replay.version == c1.version)
      assert(VT.snapshot(spark, t).count() == 1)
    }
  }

  test("applyChangeFeed maintains a sum state identical to recompute") {
    withTable { t =>
      val rows = Seq((1, "x", 10.0), (2, "x", 20.0), (3, "y", 30.0),
        (4, "y", 40.0)).toDF("id", "grp", "v")
      VT.append(spark, rows, t)                                     // v0
      // move id=3 from y to x with a new value; insert id=5; delete id=1
      VT.merge(spark, Seq((3, "x", 35.0), (5, "y", 50.0))
        .toDF("id", "grp", "v"), t, Seq("id"))                      // v1
      VT.deleteWhere(spark, t, col("id") === 1)                     // v2
      val state0 = graft.ops.IncrementalAgg.sumState(
        VT.snapshot(spark, t, Some(0)), Seq("grp"), "v")
      val cdf = VT.changeFeed(spark, t, 0, 2, Seq("id"),
        includePreimage = true)
      val maintained = graft.ops.IncrementalAgg.finalizeSums(
        graft.ops.IncrementalAgg.applyChangeFeed(
          state0, cdf, Seq("grp"), "v"), Seq("grp"))
      val recomputed = graft.ops.IncrementalAgg.finalizeSums(
        graft.ops.IncrementalAgg.sumState(
          VT.snapshot(spark, t, Some(2)), Seq("grp"), "v"), Seq("grp"))
      val m = maintained.orderBy("grp").collect().map(_.toSeq).toSeq
      val r = recomputed.orderBy("grp").collect().map(_.toSeq).toSeq
      assert(m == r)
      // x: {2->20, 3->35}; y: {4->40, 5->50}
      assert(m.map(row => (row.head, row(1))) ==
        Seq(("x", 2L), ("y", 2L)))
    }
  }

  test("applyChangeFeedMulti maintains several measures in one fold, " +
    "identical to recompute, null measures and zero-groups included") {
    withTable { t =>
      val rows = Seq((1, "x", Some(10.0), Some(1.0)),
        (2, "x", Some(20.0), None), // null fee: skipped symmetrically
        (3, "y", Some(30.0), Some(3.0)),
        (4, "z", Some(40.0), Some(4.0))).toDF("id", "grp", "amt", "fee")
      VT.append(spark, rows, t)                                     // v0
      // move id=3 y→x; insert id=5; delete id=2 (null-fee row retracts);
      // delete id=4 (group z drops to zero)
      VT.merge(spark, Seq((3, "x", 35.0, 3.5), (5, "y", 50.0, 5.0))
        .toDF("id", "grp", "amt", "fee"), t, Seq("id"))             // v1
      VT.deleteWhere(spark, t, col("id").isin(2, 4))                // v2
      val cols = Seq("amt", "fee")
      val state0 = graft.ops.IncrementalAgg.sumStateMulti(
        VT.snapshot(spark, t, Some(0)), Seq("grp"), cols)
      val cdf = VT.changeFeed(spark, t, 0, 2, Seq("id"),
        includePreimage = true)
      val maintained = graft.ops.IncrementalAgg.finalizeSumsMulti(
        graft.ops.IncrementalAgg.applyChangeFeedMulti(
          state0, cdf, Seq("grp"), cols), Seq("grp"), cols)
      val recomputed = graft.ops.IncrementalAgg.finalizeSumsMulti(
        graft.ops.IncrementalAgg.sumStateMulti(
          VT.snapshot(spark, t, Some(2)), Seq("grp"), cols),
        Seq("grp"), cols)
      val m = maintained.orderBy("grp").collect().map(_.toSeq).toSeq
      val r = recomputed.orderBy("grp").collect().map(_.toSeq).toSeq
      assert(m == r, s"maintained $m vs recomputed $r")
      // x: {1->(10,1), 3->(35,3.5)}; y: {5->(50,5)}; z dropped
      assert(m.map(row => (row.head, row(1), row(2), row(4))) ==
        Seq(("x", 2L, 45.0, 4.5), ("y", 1L, 50.0, 5.0)))
    }
  }

  test("applyChangeFeed drops groups retracted to zero") {
    withTable { t =>
      VT.append(spark, Seq((1, "only", 5.0)).toDF("id", "grp", "v"), t)
      VT.deleteWhere(spark, t, col("id") === 1)
      val state0 = graft.ops.IncrementalAgg.sumState(
        VT.snapshot(spark, t, Some(0)), Seq("grp"), "v")
      val cdf = VT.changeFeed(spark, t, 0, 1, Seq("id"),
        includePreimage = true)
      assert(graft.ops.IncrementalAgg.applyChangeFeed(
        state0, cdf, Seq("grp"), "v").count() == 0)
    }
  }

  test("versionedSink: exactly-once streaming appends through the log") {
    withTable { t =>
      val src = Files.createTempDirectory("vt-src").toString
      val ckpt = Files.createTempDirectory("vt-ckpt").toString
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "id INT, v STRING")
      def run(rows: Seq[(Int, String)], f: String): Unit = {
        if (rows.nonEmpty) rows.toDF("id", "v").write.parquet(s"$src/$f")
        val q = VT.versionedSink(
          spark.readStream.schema(schema).parquet(s"$src/*"), t, ckpt,
          appId = "vt-test")
        q.awaitTermination(60000)
      }
      run(Seq(1 -> "a", 2 -> "b"), "b1")
      run(Seq(3 -> "c"), "b2")
      assert(VT.snapshot(spark, t).count() == 3)
      val committed = VT.latestVersion(t).get
      // restart with no new files: checkpoint replays nothing new and the
      // txn guard keeps the log unchanged
      run(Nil, "none")
      assert(VT.latestVersion(t).contains(committed))
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq == Seq(1 -> "a", 2 -> "b", 3 -> "c"))
      // simulate a batch replay after checkpoint loss: same app, same
      // batch ids → idempotent, still 3 rows
      val ckpt2 = Files.createTempDirectory("vt-ckpt2").toString
      val q = VT.versionedSink(
        spark.readStream.schema(schema).parquet(s"$src/*"), t, ckpt2,
        appId = "vt-test")
      q.awaitTermination(60000)
      assert(VT.snapshot(spark, t).count() == 3)
    }
  }

  test("snapshotWhere prunes files by manifest stats, results exact") {
    withTable { t =>
      val rows = (0 until 100).map(i => (i, s"r$i"))
      // three appends with disjoint id ranges, stats recorded per file
      VT.append(spark, rows.slice(0, 30).toDF("id", "v"), t,
        statsFor = Seq("id"))
      VT.append(spark, rows.slice(30, 70).toDF("id", "v"), t,
        statsFor = Seq("id"))
      VT.append(spark, rows.slice(70, 100).toDF("id", "v"), t,
        statsFor = Seq("id"))
      val all = VT.snapshot(spark, t)
      val pruned = VT.snapshotWhere(spark, t, "id",
        lo = Some(35), hi = Some(45))
      // exact same answer as a plain filter over the full snapshot
      assert(pruned.orderBy("id").as[(Int, String)].collect().toSeq ==
        all.filter(col("id").between(35, 45)).orderBy("id")
          .as[(Int, String)].collect().toSeq)
      // and it reads strictly fewer files than the table holds (a plain
      // filter over the full snapshot still lists every file — manifest
      // stats are what Spark alone cannot prune by here)
      assert(pruned.inputFiles.length < all.inputFiles.length)
      assert(all.filter(col("id").between(35, 45)).inputFiles.length ==
        all.inputFiles.length)
      // a range outside every file's stats reads nothing
      assert(VT.snapshotWhere(spark, t, "id",
        lo = Some(1000), hi = Some(2000)).inputFiles.isEmpty)
    }
  }

  test("clustered compact makes stats selective; stats survive checkpoints") {
    withTable { t =>
      // interleaved ids so pre-compaction files all overlap on id
      (0 until 12).foreach { i =>
        VT.append(spark,
          Seq((i, s"a$i"), (i + 50, s"b$i")).toDF("id", "v"), t,
          statsFor = Seq("id"))
      } // 12 commits → checkpoint at v10 exercised with stats
      VT.compact(spark, t, targetFiles = 4, clusterBy = Seq("id"))
      val narrow = VT.snapshotWhere(spark, t, "id",
        lo = Some(0), hi = Some(5))
      assert(narrow.orderBy("id").as[(Int, String)].collect().toSeq ==
        (0 to 5).map(i => (i, s"a$i")))
      // range-clustered files: a 6-id slice of 24 rows over 4 files
      // touches at most 2
      assert(narrow.inputFiles.length <= 2)
    }
  }

  test("files without stats are kept conservatively") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t) // no statsFor
      VT.append(spark, Seq((100, "z")).toDF("id", "v"), t,
        statsFor = Seq("id"))
      val out = VT.snapshotWhere(spark, t, "id", lo = Some(0), hi = Some(10))
      // stats-less file must be scanned (and the residual filter applied)
      assert(out.as[(Int, String)].collect().toSeq == Seq(1 -> "a"))
      assert(out.inputFiles.length == 1) // the id=100 file was pruned
    }
  }

  test("snapshotAsOf picks the newest commit at or before the timestamp") {
    withTable { t =>
      val c0 = VT.append(spark, df(1 -> "a"), t)
      Thread.sleep(5)
      VT.append(spark, df(2 -> "b"), t)
      assert(VT.snapshotAsOf(spark, t, c0.ts).count() == 1)
      assert(VT.snapshotAsOf(spark, t, System.currentTimeMillis())
        .count() == 2)
    }
  }

  test("empty snapshot after delete-all keeps the schema") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      VT.overwrite(spark, df(1 -> "a").filter(lit(false)), t)
      val snap = VT.snapshot(spark, t)
      assert(snap.count() == 0)
      assert(snap.columns.toSeq == Seq("id", "v"))
    }
  }

  test("zorder compact prunes snapshotWhere on EVERY clustered " +
    "dimension; lexicographic only on the leading one") {
    withTable { t =>
      // 100×100 grid: 10k rows over two independent dimensions
      val grid = spark.range(10000).selectExpr(
        "cast(id % 100 as bigint) as x",
        "cast(id div 100 as bigint) as y",
        "id as payload")
      VT.append(spark, grid, t)
      VT.compact(spark, t, targetFiles = 16, clusterBy = Seq("x", "y"),
        statsFor = Seq("x", "y"), zorder = true)
      val total = VT.snapshot(spark, t).inputFiles.length
      assert(total == 16)
      // a narrow band on EACH dimension must skip files AND stay exact
      Seq("x", "y").foreach { c =>
        val pruned = VT.snapshotWhere(spark, t, c,
          lo = Some(10L), hi = Some(19L))
        assert(pruned.inputFiles.length < total,
          s"no pruning on $c: ${pruned.inputFiles.length} of $total")
        assert(pruned.count() == 1000L)
      }
      // contrast: lexicographic (x, y) clustering cannot prune on y —
      // every x-range file spans the full y domain
      VT.compact(spark, t, targetFiles = 16, clusterBy = Seq("x", "y"),
        statsFor = Seq("x", "y"))
      val lexY = VT.snapshotWhere(spark, t, "y",
        lo = Some(10L), hi = Some(19L))
      assert(lexY.inputFiles.length == total,
        "lexicographic clustering unexpectedly pruned the trailing dim")
      assert(lexY.count() == 1000L)
    }
  }

  test("compactBySize merges to the byte-derived file count and no-ops " +
    "when already compact") {
    withTable { t =>
      (1 to 6).foreach { i =>
        VT.append(spark, df(i -> ("v" + i)).coalesce(1), t) }
      val files = VT.snapshot(spark, t).inputFiles
      assert(files.length == 6)
      val total = files.map(p =>
        Files.size(java.nio.file.Paths.get(new java.net.URI(p).getPath))).sum
      // targetBytes > half the table → 2 output files
      val c = VT.compactBySize(spark, t, targetBytes = total / 2 + 1)
      assert(c.nonEmpty && c.get.op == "optimize")
      assert(VT.snapshot(spark, t).inputFiles.length == 2)
      assert(VT.snapshot(spark, t).count() == 6)
      // huge target → everything into one file
      assert(VT.compactBySize(spark, t, targetBytes = 1L << 30).nonEmpty)
      assert(VT.snapshot(spark, t).inputFiles.length == 1)
      // already at the derived count: no rewrite commit
      val v = VT.latestVersion(t)
      assert(VT.compactBySize(spark, t, targetBytes = 1L << 30).isEmpty)
      assert(VT.latestVersion(t) == v)
      assert(VT.snapshot(spark, t).orderBy("id").count() == 6)
    }
  }

  test("merge rewrites only files containing source keys; inserts ride " +
    "along; untouched files carry over") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b").coalesce(1), t) // file A
      VT.append(spark, df(3 -> "c", 4 -> "d").coalesce(1), t) // file B
      val before = VT.snapshot(spark, t).inputFiles.toSet
      val c = VT.merge(spark, df(2 -> "B", 9 -> "i"), t, Seq("id"))
      assert(c.op == "merge" && c.remove.size == 1, // only file A retired
        s"expected 1 removed file, got ${c.remove}")
      val snap = VT.snapshot(spark, t)
      assert(snap.orderBy("id").as[(Int, String)].collect().toSeq ==
        Seq(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d", 9 -> "i"))
      assert(snap.inputFiles.toSet.intersect(before).size == 1,
        "file B must survive as the same physical file")
    }
  }

  test("merge into a clustered stats-tracked table prunes candidate " +
    "files by manifest range before scanning") {
    withTable { t =>
      // 4 range-clustered files with id stats; a merge touching only the
      // [0,24] range must retire exactly one file
      val base = spark.range(100).selectExpr("cast(id as int) as id",
        "concat('v', id) as v")
      VT.append(spark, base.repartitionByRange(4, col("id"))
        .sortWithinPartitions("id"), t, statsFor = Seq("id"))
      val c = VT.merge(spark,
        Seq(10 -> "X", 20 -> "Y").toDF("id", "v"), t, Seq("id"))
      assert(c.remove.size == 1, s"stats prune failed: ${c.remove}")
      assert(c.add.size == 1)
      assert(VT.snapshot(spark, t).count() == 100)
      assert(VT.snapshot(spark, t).filter(col("id") === 10)
        .select("v").as[String].collect().toSeq == Seq("X"))
    }
  }

  test("changeFeed reads only files that changed between the manifests") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b").coalesce(1), t) // v0: file A
      VT.append(spark, df(3 -> "c").coalesce(1), t)           // v1: +file B
      val v0Files = VT.snapshot(spark, t, Some(0)).inputFiles.toSet
      // v0→v1 is a pure append: the feed must scan ONLY the new file
      val feed01 = VT.changeFeed(spark, t, 0, 1, Seq("id"))
      assert(feed01.inputFiles.toSet.intersect(v0Files).isEmpty,
        "append-only diff read a carried file")
      assert(feed01.orderBy("id").select("id", "v", "_change_type")
        .as[(Int, String, String)].collect().toSeq ==
        Seq((3, "c", "insert")))
      // v1→v2 deletes from file A: the feed must not scan file B
      val v1OnlyFile = VT.snapshot(spark, t, Some(1)).inputFiles.toSet
        .diff(v0Files)
      VT.deleteWhere(spark, t, col("id") === 1)               // v2
      val feed12 = VT.changeFeed(spark, t, 1, 2, Seq("id"))
      assert(feed12.inputFiles.toSet.intersect(v1OnlyFile).isEmpty,
        "delete diff read the untouched file")
      assert(feed12.orderBy("id").select("id", "v", "_change_type")
        .as[(Int, String, String)].collect().toSeq ==
        Seq((1, "a", "delete")))
    }
  }

  // ---------- applyChanges / ChangeConsumer ----------

  private def feedOf(rows: (Int, String, String)*) =
    rows.toDF("id", "v", "_change_type")

  test("applyChanges: inserts, updates and deletes land; files untouched " +
    "by the change set carry over by reference") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b").coalesce(1), t) // file A — hit
      VT.append(spark, df(3 -> "c", 4 -> "d").coalesce(1), t) // file B — not
      val before = VT.snapshot(spark, t).inputFiles.toSet
      VT.applyChanges(spark,
        feedOf((2, "B", "update_postimage"), (2, "b", "update_preimage"),
          (5, "e", "insert"), (1, "a", "delete")),
        t, Seq("id"), txnApp = "test", txnId = 1)
      val snap = VT.snapshot(spark, t)
      assert(snap.orderBy("id").as[(Int, String)].collect().toSeq ==
        Seq(2 -> "B", 3 -> "c", 4 -> "d", 5 -> "e"))
      val after = snap.inputFiles.toSet
      // the un-hit file (3,4) must survive as the SAME physical file
      val carried = before.intersect(after)
      assert(carried.size == 1, s"expected exactly file B carried: $carried")
    }
  }

  test("applyChanges treats a NULL key as a real key: the old null-keyed " +
    "row retires instead of duplicating, stats pruning included") {
    withTable { t =>
      // statsFor puts the single-key change set on the min/max pruning
      // path, whose aggregates never see nulls — the null-count stats
      // must admit the file holding the null-keyed row
      VT.append(spark,
        Seq[(java.lang.Integer, String)]((1, "a"), (null, "n"))
          .toDF("id", "v"), t, statsFor = Seq("id"))
      VT.applyChanges(spark,
        Seq[(java.lang.Integer, String, String)](
          (null, "N2", "update_postimage")).toDF("id", "v", "_change_type"),
        t, Seq("id"), txnApp = "nulls", txnId = 1)
      val rows = VT.snapshot(spark, t)
        .as[(Option[Int], String)].collect().toSeq.sortBy(_._2)
      // exactly one null-keyed row, carrying the NEW payload
      assert(rows == Seq(None -> "N2", Some(1) -> "a"), s"got $rows")
      // and a delete of the null key removes it
      VT.applyChanges(spark,
        Seq[(java.lang.Integer, String, String)]((null, "N2", "delete"))
          .toDF("id", "v", "_change_type"),
        t, Seq("id"), txnApp = "nulls", txnId = 2)
      assert(VT.snapshot(spark, t).as[(Option[Int], String)]
        .collect().toSeq == Seq(Some(1) -> "a"))
    }
  }

  test("applyChanges replay with the same txn commits nothing new") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      val feed = feedOf((2, "b", "insert"))
      val c1 = VT.applyChanges(spark, feed, t, Seq("id"), "app", 7)
      val c2 = VT.applyChanges(spark, feed, t, Seq("id"), "app", 7)
      assert(c1.version == c2.version)
      assert(VT.latestVersion(t).contains(c1.version))
      assert(VT.snapshot(spark, t).count() == 2)
    }
  }

  test("mirror: bootstrap + incremental cycles replicate the source; " +
    "caught-up cycle is a no-op") {
    withTable { src =>
      withTable { dst =>
        val ckpt = Files.createTempDirectory("graft-cc").toString
        VT.append(spark, df(1 -> "a", 2 -> "b"), src)
        assert(graft.io.ChangeConsumer.mirror(
          spark, src, dst, Seq("id"), ckpt).nonEmpty)
        assert(VT.snapshot(spark, dst).orderBy("id").as[(Int, String)]
          .collect().toSeq == Seq(1 -> "a", 2 -> "b"))
        // caught up: no handler call, no dst commit
        assert(graft.io.ChangeConsumer.mirror(
          spark, src, dst, Seq("id"), ckpt).isEmpty)
        // evolve src: update 2, delete 1, insert 3 — then one cycle
        VT.merge(spark, df(2 -> "B", 3 -> "c"), src, Seq("id"))
        VT.deleteWhere(spark, src, col("id") === 1)
        assert(graft.io.ChangeConsumer.mirror(
          spark, src, dst, Seq("id"), ckpt).nonEmpty)
        assert(VT.snapshot(spark, dst).orderBy("id").as[(Int, String)]
          .collect().toSeq == Seq(2 -> "B", 3 -> "c"))
      }
    }
  }

  test("mirror crash-replay: cursor loss re-runs the cycle but the txn " +
    "guard keeps the mirror exactly-once") {
    withTable { src =>
      withTable { dst =>
        val ckpt = Files.createTempDirectory("graft-cc").toString
        VT.append(spark, df(1 -> "a"), src)
        graft.io.ChangeConsumer.mirror(spark, src, dst, Seq("id"), ckpt)
        VT.append(spark, df(2 -> "b"), src)
        graft.io.ChangeConsumer.mirror(spark, src, dst, Seq("id"), ckpt)
        val vAfter = VT.latestVersion(dst)
        // simulate a crash AFTER the dst commit, BEFORE the cursor write:
        // roll the cursor back one cycle and replay
        Files.write(java.nio.file.Paths.get(ckpt, "cursor"),
          "0".getBytes("UTF-8"))
        graft.io.ChangeConsumer.mirror(spark, src, dst, Seq("id"), ckpt)
        assert(VT.latestVersion(dst) == vAfter) // no new dst commit
        assert(VT.snapshot(spark, dst).orderBy("id").as[(Int, String)]
          .collect().toSeq == Seq(1 -> "a", 2 -> "b"))
        assert(graft.io.ChangeConsumer.cursor(ckpt).contains(1L))
      }
    }
  }

  test("changeFeed across a schema-evolved history conforms both sides " +
    "to the to-version schema") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)                  // v0
      VT.append(spark, Seq((3, "c", 30L)).toDF("id", "v", "w"), t,
        mergeSchema = true)                                        // v1: +w
      // update row 1 under the evolved schema
      VT.merge(spark, Seq((1, "A", 10L)).toDF("id", "v", "w"), t,
        Seq("id"))                                                 // v2
      val feed = VT.changeFeed(spark, t, 0, 2, Seq("id"),
        includePreimage = true)
      val rows = feed.orderBy("id", "_change_type")
        .select("id", "v", "w", "_change_type").collect()
        .map(r => (r.getInt(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3))).toSeq
      // row 1: update with preimage (old w unknown → null), row 3: insert
      // ("update_postimage" < "update_preimage" lexically)
      assert(rows == Seq(
        (1, "A", 10L, "update_postimage"),
        (1, "a", -1L, "update_preimage"),
        (3, "c", 30L, "insert")))
    }
  }

  test("two mirror consumers racing on one destination stay exactly-once") {
    withTable { src =>
      withTable { dst =>
        val ckpt = Files.createTempDirectory("graft-cc").toString
        VT.append(spark, df(1 -> "a", 2 -> "b"), src)
        import java.util.concurrent.{CountDownLatch, Executors}
        val pool = Executors.newFixedThreadPool(2)
        val gate = new CountDownLatch(1)
        val results = (0 until 2).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              gate.await()
              // both threads share the checkpoint AND the destination:
              // whichever applies second must collapse onto the first's
              // txn commit, and the cursor lands at the same version
              graft.io.ChangeConsumer.mirror(
                spark, src, dst, Seq("id"), ckpt).isDefined
            }
          })
        }
        gate.countDown()
        results.foreach(_.get())
        pool.shutdown()
        assert(VT.snapshot(spark, dst).orderBy("id").as[(Int, String)]
          .collect().toSeq == Seq(1 -> "a", 2 -> "b"))
        // exactly one apply commit in the dst history
        val applies = VT.history(spark, dst)
          .filter(col("op") === "apply_changes").count()
        assert(applies == 1L, s"expected 1 apply commit, got $applies")
        assert(graft.io.ChangeConsumer.cursor(ckpt).contains(0L))
      }
    }
  }

  test("follow processes each pending range once and stops when idle") {
    withTable { src =>
      val ckpt = Files.createTempDirectory("graft-cc").toString
      VT.append(spark, df(1 -> "a"), src)
      VT.append(spark, df(2 -> "b"), src)
      var seen = List.empty[(Option[Long], Long)]
      // first call: one catch-up cycle (0-cursor absent → bootstrap at
      // latest), then idle poll finds nothing and stops
      val n1 = graft.io.ChangeConsumer.follow(spark, src, Seq("id"), ckpt,
        pollMs = 10, maxCycles = 5) { (_, from, to) =>
        seen ::= ((from, to))
      }
      assert(n1 == 1 && seen == List((None, 1L)))
      // two more commits, follow again: ONE cycle covers both versions
      VT.append(spark, df(3 -> "c"), src)
      VT.append(spark, df(4 -> "d"), src)
      val n2 = graft.io.ChangeConsumer.follow(spark, src, Seq("id"), ckpt,
        pollMs = 10, maxCycles = 5) { (_, from, to) =>
        seen ::= ((from, to))
      }
      assert(n2 == 1 && seen.head == (Some(1L), 3L))
      assert(graft.io.ChangeConsumer.cursor(ckpt).contains(3L))
    }
  }

  test("maintainSumState: incremental refresh equals full recompute; " +
    "replay never double-folds a delta") {
    withTable { src =>
      withTable { state =>
        val ckpt = Files.createTempDirectory("graft-cc").toString
        val rows = Seq((1, "x", 10.0), (2, "x", 20.0), (3, "y", 5.0))
          .toDF("id", "grp", "amt")
        VT.append(spark, rows, src)
        graft.io.ChangeConsumer.maintainSumState(spark, src, state,
          rowKeys = Seq("id"), groupKeys = Seq("grp"), valueCol = "amt",
          checkpointDir = ckpt)
        // evolve: update id 2 to grp y (retract from x, add to y),
        // delete id 3, insert id 4
        VT.merge(spark,
          Seq((2, "y", 25.0), (4, "x", 7.0)).toDF("id", "grp", "amt"),
          src, Seq("id"))
        VT.deleteWhere(spark, src, col("id") === 3)
        graft.io.ChangeConsumer.maintainSumState(spark, src, state,
          Seq("id"), Seq("grp"), "amt", ckpt)
        val maintained = VT.snapshot(spark, state)
          .orderBy("grp").collect()
          .map(r => (r.getString(0), r.getLong(1),
            r.getDecimal(2).toPlainString)).toSeq
        val recomputed = graft.ops.IncrementalAgg.sumState(
            VT.snapshot(spark, src), Seq("grp"), "amt")
          .orderBy("grp").collect()
          .map(r => (r.getString(0), r.getLong(1),
            r.getDecimal(2).toPlainString)).toSeq
        assert(maintained == recomputed)
        assert(maintained == Seq(("x", 2L, "17.00"), ("y", 1L, "25.00")))
        // crash replay: state committed, cursor lost — the txn guard must
        // keep the state identical (no double fold)
        val vState = VT.latestVersion(state)
        Files.write(java.nio.file.Paths.get(ckpt, "cursor"),
          "0".getBytes("UTF-8"))
        graft.io.ChangeConsumer.maintainSumState(spark, src, state,
          Seq("id"), Seq("grp"), "amt", ckpt)
        assert(VT.latestVersion(state) == vState)
        assert(graft.io.ChangeConsumer.cursor(ckpt)
          == Some(VT.latestVersion(src).get))
      }
    }
  }

  test("fromCdcEnvelope: op routing, corrupt and unknown envelopes drop") {
    val rowSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v DOUBLE")
    val envs = Seq(
      """{"op":"c","after":{"id":1,"v":10.0}}""",
      """{"op":"r","after":{"id":2,"v":20.0}}""",          // snapshot read
      """{"op":"u","before":{"id":1,"v":10.0},"after":{"id":1,"v":11.0}}""",
      """{"op":"d","before":{"id":2,"v":20.0}}""",
      """{"op":"t"}""",                                     // unknown op
      """{broken json"""                                    // corrupt
    ).toDF("envelope")
    val feed = graft.io.ChangeConsumer
      .fromCdcEnvelope(envs, "envelope", rowSchema)
      .orderBy("id", "_change_type")
      .as[(Long, Double, String)].collect().toSeq
    assert(feed == Seq(
      (1L, 10.0, "insert"),
      (1L, 11.0, "update_postimage"),
      (1L, 10.0, "update_preimage"),
      (2L, 20.0, "delete"),
      (2L, 20.0, "insert")))
    // the adapted feed drives the standard IVM fold end-to-end
    val state0 = graft.ops.IncrementalAgg.sumState(
      Seq.empty[(Long, Double)].toDF("id", "v"), Seq("id"), "v")
    val folded = graft.ops.IncrementalAgg.applyChangeFeed(
        state0, feed.toDF("id", "v", "_change_type"), Seq("id"), "v")
      .orderBy("id")
      .select(col("id"), col("n"), col("sum_v").cast("double"))
      .as[(Long, Long, Double)].collect().toSeq
    // id 1: insert + update → one row at 11.0; id 2: insert + delete → gone
    assert(folded == Seq((1L, 1L, 11.0)))
    // corrupt screening with the exposed schema finds exactly the bad row
    // (PERMISSIVE from_json yields an all-null struct, never a null
    // column — no valid envelope lacks an op, so key the screen on it)
    assert(envs.where(from_json(col("envelope"),
      graft.io.ChangeConsumer.envelopeSchema(rowSchema))
      .getField("op").isNull)
      .count() == 1)
  }
  // ------------------------------------------------ CHECK constraint writes

  test("CHECK constraint: every write path rejects violating rows") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t)
      VT.addCheckConstraint(spark, t, "small_id", "id < 100")
      // append
      intercept[VT.ConstraintViolationException] {
        VT.append(spark, df(500 -> "z"), t)
      }
      // idempotent append (fresh txn id — the violation is pre-commit)
      intercept[VT.ConstraintViolationException] {
        VT.appendIdempotent(spark, df(500 -> "z"), t, "app", 1L)
      }
      // overwrite (constraints survive a full replace, as in Delta)
      intercept[VT.ConstraintViolationException] {
        VT.overwrite(spark, df(500 -> "z"), t)
      }
      // merge — validated on the MERGED rows
      intercept[VT.ConstraintViolationException] {
        VT.merge(spark, df(500 -> "z"), t, Seq("id"))
      }
      // applyChanges — violating insert in the feed
      intercept[VT.ConstraintViolationException] {
        VT.applyChanges(spark,
          df(500 -> "z").withColumn("_change_type", lit("insert")),
          t, Seq("id"), "cdc", 1L)
      }
      // nothing landed: table still holds exactly the two original rows
      assert(VT.snapshot(spark, t).count() == 2)
      // valid writes still pass
      VT.append(spark, df(3 -> "c"), t)
      VT.merge(spark, df(4 -> "d"), t, Seq("id"))
      assert(VT.snapshot(spark, t).count() == 4)
    }
  }

  test("CHECK constraint: a column the frame lacks reads as null and " +
      "passes (SQL CHECK convention), matching what stored rows read back") {
    withTable { t =>
      VT.append(spark, Seq((1, "a", 5)).toDF("id", "v", "score"), t)
      VT.addCheckConstraint(spark, t, "pos_score", "score > 0")
      // subset-schema append: no score column — stored rows read null,
      // null CHECK passes
      VT.append(spark, df(2 -> "b"), t)
      assert(VT.snapshot(spark, t).count() == 2)
      // but a present-and-violating score still fails
      intercept[VT.ConstraintViolationException] {
        VT.append(spark, Seq((3, "c", -1)).toDF("id", "v", "score"), t)
      }
    }
  }

  test("CHECK constraint added by a slot-race winner is honored by the " +
      "loser's revalidation") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      intercept[VT.ConstraintViolationException] {
        withRacer(VT.addCheckConstraint(spark, t, "small_id", "id < 100")) {
          VT.append(spark, df(500 -> "z"), t)
        }
      }
      // the constraint commit landed; the violating append never did
      assert(VT.checkConstraints(t).contains("small_id"))
      assert(VT.snapshot(spark, t).count() == 1)
    }
  }

  test("WriteSerializable: an interleaved property commit is a real " +
      "conflict for a merge, not a blind append to rebase over") {
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      withRacer(VT.setProperties(t, Map("owner" -> "ops"))) {
        intercept[VT.ConcurrentWriteException] {
          VT.merge(spark, df(1 -> "A"), t, Seq("id"))
        }
      }
      // the property commit landed; the merge changed nothing
      assert(VT.properties(t).get("owner").contains("ops"))
      assert(VT.snapshot(spark, t).as[(Int, String)].collect().toSeq ==
        Seq(1 -> "a"))
    }
  }

  // --------------------------------------------- restore × schema lineage

  test("restore carries the target's FULL schema lineage: columns living " +
      "only in older files survive the restore") {
    withTable { t =>
      // v0: full schema (id, v, extra); v1: legal subset append (id, v)
      VT.append(spark, Seq((1, "a", "e1")).toDF("id", "v", "extra"), t)
      VT.append(spark, df(2 -> "b"), t)
      // v2: overwrite with a DIFFERENT schema — resets the lineage
      VT.overwrite(spark, Seq(Tuple1(9)).toDF("id"), t,
        overwriteSchema = true)
      // v3: restore to the mixed-schema version
      VT.restore(spark, t, 1L)
      // the restored snapshot must still see `extra` (it lives only in
      // the v0 file; the v1 file's schema — the lineage's last — lacks it)
      val snap = VT.snapshot(spark, t)
      assert(snap.columns.toSet == Set("id", "v", "extra"))
      assert(snap.orderBy("id").select("id", "v", "extra")
        .as[(Int, String, Option[String])].collect().toSeq ==
        Seq((1, "a", Some("e1")), (2, "b", None)))
      // and enforcement must still know extra's TYPE: re-typing it is a
      // schema violation, not an innocent new column
      intercept[VT.SchemaEnforcementException] {
        VT.append(spark, Seq((3, "c", 7)).toDF("id", "v", "extra"), t,
          mergeSchema = true)
      }
    }
  }

  test("compactSmallFiles coalesces only small files, skips DV-covered " +
    "ones, no-ops below the threshold") {
    withTable { t =>
      (0 until 6).foreach(i =>
        VT.append(spark, df(i -> s"v$i").coalesce(1), t))
      // inputFiles lists the DV sidecar's scan too — count data files
      def files: Seq[String] = VT.snapshot(spark, t).inputFiles.toSeq
        .filterNot(_.contains("-dv"))
      assert(files.size == 6)
      // below the threshold: nothing happens, no commit spent
      assert(VT.compactSmallFiles(spark, t, minFiles = 10).isEmpty)
      assert(VT.latestVersion(t).contains(5L))
      // a DV covering one file exempts it from the rewrite
      VT.deleteWhereDeferred(spark, t, col("id") === 3) // v6
      val c = VT.compactSmallFiles(spark, t, minFiles = 2).get // v7
      assert(c.op == "optimize")
      assert(c.remove.size == 5) // the 5 uncovered small files
      assert(files.size == 2)    // 1 coalesced + the DV-covered one
      // rows exactly preserved (DV subtraction still applies on read)
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq ==
        Seq(0 -> "v0", 1 -> "v1", 2 -> "v2", 4 -> "v4", 5 -> "v5"))
      // time travel before the rewrite still works
      assert(VT.snapshot(spark, t, Some(5)).count() == 6)
    }
  }

  test("compactSmallFiles does not regress the schema lineage when the " +
    "small files predate an evolution") {
    withTable { t =>
      VT.append(spark, df(1 -> "a").coalesce(1), t)           // old schema
      VT.append(spark, df(2 -> "b").coalesce(1), t)           // old schema
      VT.append(spark, Seq((3, "c", 30)).toDF("id", "v", "w")
        .coalesce(1), t, mergeSchema = true)                  // evolved
      // every fixture file is tiny, so the rewrite folds all three —
      // the empty-schemaJson commit must leave the lineage alone
      // regardless of which files it touched
      assert(VT.compactSmallFiles(spark, t, minFiles = 2).isDefined)
      // the evolved column survives reads...
      val snap = VT.snapshot(spark, t)
      assert(snap.columns.contains("w"))
      assert(snap.orderBy("id").select("id", "w")
        .as[(Int, Option[Int])].collect().toSeq ==
        Seq((1, None), (2, None), (3, Some(30))))
      // ...and schema enforcement still knows w's type: re-typing it
      // must fail, proving the lineage was not collapsed/regressed
      intercept[VT.SchemaEnforcementException] {
        VT.append(spark, Seq((4, "d", "oops")).toDF("id", "v", "w"), t,
          mergeSchema = true)
      }
      // a fresh append with the evolved schema still lands cleanly
      VT.append(spark, Seq((5, "e", 50)).toDF("id", "v", "w"), t,
        mergeSchema = true)
      assert(VT.snapshot(spark, t).count() == 4)
    }
  }

  test("compactSmallFiles rebases over a racing blind append " +
    "(empty-schema commit must not fail the shape check)") {
    withTable { t =>
      (0 until 3).foreach(i =>
        VT.append(spark, df(i -> s"v$i").coalesce(1), t))
      withRacer(VT.append(spark, df(9 -> "z"), t)) {
        assert(VT.compactSmallFiles(spark, t, minFiles = 2).isDefined)
      }
      assert(VT.snapshot(spark, t).select("id").as[Int].collect().sorted
        .toSeq == Seq(0, 1, 2, 9))
    }
  }

  test("ChangeConsumer replays the PINNED range after a crash, even " +
    "when the log advanced meanwhile") {
    withTable { t =>
      val ck = s"$t.consumer"
      VT.append(spark, df(1 -> "a"), t)                     // v0
      val ranges = scala.collection.mutable.ArrayBuffer
        .empty[(Option[Long], Long)]
      def cycle(fail: Boolean): Option[(Option[Long], Long)] =
        graft.io.ChangeConsumer.processChanges(spark, t, Seq("id"), ck) {
          (_, f, to) =>
            ranges += ((f, to))
            if (fail) throw new RuntimeException("crash before advance")
        }
      cycle(fail = false) // bootstrap (None, 0]
      VT.append(spark, df(2 -> "b"), t)                     // v1
      intercept[RuntimeException] { cycle(fail = true) }    // pins to=1
      VT.append(spark, df(3 -> "c"), t)                     // v2 lands
      // the retry must replay EXACTLY (0, 1] — the pinned range — so a
      // txn-guarded destination keyed on to=1 dedupes; extending to 2
      // here would double-apply the (0,1] delta downstream
      assert(cycle(fail = false) == Some((Some(0L), 1L)))
      // and the next cycle picks up the rest
      assert(cycle(fail = false) == Some((Some(1L), 2L)))
      assert(ranges.toSeq == Seq(
        (None, 0L), (Some(0L), 1L), (Some(0L), 1L), (Some(1L), 2L)))
    }
  }

  test("snapshotWhere prunes correctly on timestamp bounds (CAST " +
    "rendering, not JVM toString)") {
    withTable { t =>
      val rows = Seq(
        (1, java.sql.Timestamp.valueOf("2024-01-01 12:34:56")),
        (2, java.sql.Timestamp.valueOf("2024-06-15 00:00:00")),
        (3, java.sql.Timestamp.valueOf("2024-12-31 23:59:59")))
        .toDF("id", "ts")
      // one file per row so pruning decisions are per-row-visible
      rows.collect().foreach { r =>
        VT.append(spark,
          Seq((r.getInt(0), r.getTimestamp(1))).toDF("id", "ts")
            .coalesce(1), t, statsFor = Seq("ts"))
      }
      // lo equals file 2's max EXACTLY: JVM Timestamp.toString renders
      // '…00:00:00.0' which compares ABOVE the stat's '…00:00:00' and
      // used to mis-prune the file containing the boundary row
      val hit = VT.snapshotWhere(spark, t, "ts",
        lo = Some(java.sql.Timestamp.valueOf("2024-06-15 00:00:00")))
      assert(hit.select("id").as[Int].collect().sorted.toSeq == Seq(2, 3))
      val lohi = VT.snapshotWhere(spark, t, "ts",
        lo = Some(java.sql.Timestamp.valueOf("2024-01-01 12:34:56")),
        hi = Some(java.sql.Timestamp.valueOf("2024-06-15 00:00:00")))
      assert(lohi.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
    }
  }

  test("snapshotWhere keeps numeric comparison after a subset-schema " +
    "append hides the column from the latest commit's schema") {
    withTable { t =>
      VT.append(spark, Seq((1, 2), (2, 10)).toDF("id", "v").coalesce(1),
        t, statsFor = Seq("v"))
      // legal subset append: latest schemaJson no longer contains v
      VT.append(spark, Seq(Tuple1(3)).toDF("id").coalesce(1), t)
      // lexical compare would prune the v=10 file ("10" < "2"): the
      // union-lineage type lookup must keep it numeric
      val got = VT.snapshotWhere(spark, t, "v", lo = Some(2))
        .select("id").as[Int].collect().sorted.toSeq
      assert(got == Seq(1, 2))
    }
  }

  test("restore carries the target state's per-file stats") {
    withTable { t =>
      VT.append(spark, df(1 -> "a", 2 -> "b"), t, statsFor = Seq("id"))
      VT.append(spark, df(3 -> "c"), t)
      VT.overwrite(spark, df(9 -> "z"), t)
      val c = VT.restore(spark, t, 1L)
      assert(c.stats.nonEmpty, "restore must re-record the target stats")
      // and the restored table still prunes on them
      val got = VT.snapshotWhere(spark, t, "id", lo = Some(3))
        .select("id").as[Int].collect().toSeq
      assert(got == Seq(3))
    }
  }

  test("metadata-only table: snapshot is empty, applyChanges bootstraps, " +
    "merge fails with the no-data story") {
    withTable { t =>
      VT.setProperties(t, Map(VT.CdfProp -> "true")) // v0, no data
      assert(VT.snapshot(spark, t).count() == 0)
      val e = intercept[IllegalStateException] {
        VT.merge(spark, df(1 -> "a"), t, Seq("id"))
      }
      assert(e.getMessage.contains("metadata"))
      val feed = Seq((1, "a", "insert")).toDF("id", "v", "_change_type")
      VT.applyChanges(spark, feed, t, Seq("id"), "meta-boot", 1L)
      assert(VT.snapshot(spark, t).as[(Int, String)].collect().toSeq ==
        Seq(1 -> "a"))
    }
  }

  test("autoCompact property: appends opportunistically fold small files") {
    withTable { t =>
      VT.append(spark, df(0 -> "a").coalesce(1), t)
      VT.setProperties(t, Map(
        VT.AutoCompactProp -> "true",
        VT.AutoCompactMinFilesProp -> "4"))
      (1 until 4).foreach(i =>
        VT.append(spark, df(i -> s"v$i").coalesce(1), t))
      // the 4th append crossed the threshold: a trailing optimize commit
      // folded the table back to one file, transparently to readers
      val hist = VT.history(spark, t).orderBy("version")
        .select("op").as[String].collect().toSeq
      assert(hist.last == "optimize")
      assert(VT.snapshot(spark, t).inputFiles.length == 1)
      assert(VT.snapshot(spark, t).orderBy("id").as[(Int, String)]
        .collect().toSeq ==
        Seq(0 -> "a", 1 -> "v1", 2 -> "v2", 3 -> "v3"))
      // steady state: the next append leaves 2 files (1 compacted + 1
      // new — under the threshold again, no rewrite storm)
      VT.append(spark, df(9 -> "z").coalesce(1), t)
      assert(VT.snapshot(spark, t).inputFiles.length == 2)
    }
  }

  test("commit JSON is writer-unique even for metadata-only commits " +
    "(per-writer nonce, ADVICE r16): two identical setProperties in the " +
    "same millisecond must never be byte-identical, or the object-store " +
    "arbiter's ambiguous-500 read-back adjudication would declare BOTH " +
    "racers winners of one slot") {
    def metadataCommitBytes(): String = withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      VT.setProperties(t, Map("k" -> "v"))
      val slot = java.nio.file.Paths.get(t, "_graft_log")
        .resolve(f"${1L}%020d.json")
      new String(Files.readAllBytes(slot),
        java.nio.charset.StandardCharsets.UTF_8)
    }
    val a = metadataCommitBytes()
    val b = metadataCommitBytes()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val (na, nb) = (om.readTree(a), om.readTree(b))
    // the nonce is present, a UUID, and differs per writer; with ts and
    // nonce stripped the two commits ARE identical — the nonce is what
    // carries the uniqueness, not timestamp luck
    assert(na.hasNonNull("nonce") && nb.hasNonNull("nonce"))
    assert(na.get("nonce").asText != nb.get("nonce").asText)
    def strip(n: com.fasterxml.jackson.databind.JsonNode) = {
      val o = n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      o.remove("nonce"); o.remove("ts"); o.toString
    }
    assert(strip(na) == strip(nb))
    // readers ignore the field: parse-back still sees the op/props
    withTable { t =>
      VT.append(spark, df(1 -> "a"), t)
      VT.setProperties(t, Map("k" -> "v"))
      assert(VT.snapshot(spark, t).count() == 1)
      assert(VT.history(spark, t).orderBy("version")
        .select("op").as[String].collect().last == "set_props")
    }
  }
}
