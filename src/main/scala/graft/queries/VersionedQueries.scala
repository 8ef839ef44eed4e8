package graft.queries

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{VersionedTable => VT}
import graft.queries.Q.t
import graft.util.Stages.{time => stage}

/** Driver-gate queries for the versioned-table layer (the Delta-equivalent
  * log surface: time travel, RESTORE, MERGE-through-the-log, file-granular
  * DELETE, change feed). Each query builds a real on-disk versioned table
  * in a scratch dir from deterministic slices of the parquet inputs, reads
  * historical versions back through the commit log, and returns aggregates
  * the DuckDB oracle reproduces from the same slice algebra — so the whole
  * log machinery (atomic commits, checkpoint replay, snapshot resolution)
  * sits inside the hash-checked path, not just ScalaTest.
  *
  * The scratch table is deleted before returning; results are snapshot-
  * materialized first (graft.util.Caches contract) so the returned frame
  * does not depend on the deleted files.
  */
object VersionedQueries {

  /** Fixture slices. These queries gate LOG machinery — commit
    * arbitration, checkpoint replay, snapshot resolution, change-feed
    * classification — whose cost and coverage are per-COMMIT, not
    * per-row; rebuilding every scratch table from the full orders table
    * spent ~26 s of the r9 bench on fixture I/O that exercised nothing
    * extra. A capped key range keeps every code path (append / MERGE /
    * DELETE / RESTORE / compact / Z-order / CDF / both retraction arms)
    * live while the tables stay small. The SAME cap appears in each
    * oracle's base relation. */
  private def ordersSlice(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") < 20000)
  private def customerSlice(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_custkey") < 5000)

  /** Run a fixture choreography under a small shuffle-partition count,
    * restoring the session value after. The scratch tables are a few
    * thousand rows, but every commit/fold/consumer-cycle job inherits
    * the session's 32 shuffle partitions — dozens of near-empty tasks
    * per job across the ~10 sequential jobs of a choreography is pure
    * scheduling overhead (the q47 lesson: size the partitions to the
    * state). Values are partitioning-independent (the hash gate proves
    * it); only wall clock changes. Streaming STATE partitions pin into
    * each query's checkpoint at first start, so the setting covers the
    * .start() calls too. */
  private def withFewPartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try body finally s.conf.set(key, prev)
  }

  /** Run independent choreography stages concurrently (VERDICT r15 #5):
    * the CDF fixtures' consumers — scd2/MV streams, cursor-checkpointed
    * mirror and sum-state — each read the SAME already-landed commits and
    * write to SEPARATE tables/checkpoints, so running them sequentially
    * was pure fixture wall-clock, not a semantic ordering (a real
    * deployment runs its consumers concurrently; the multi-writer race
    * suite covers far harsher interleavings than read-only log replay).
    * Commits themselves (append/merge/delete) stay strictly sequential —
    * version order IS semantics. First failure rethrows after all tasks
    * finish (no orphan threads holding the scratch dir). */
  private def inParallel(tasks: (() => Unit)*): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val threads = tasks.map(t => new Thread(() => {
      // NonFatal only (ADVICE r16): a fatal error (OOM, StackOverflow) in
      // one worker must not be deferred while siblings keep running
      // against a possibly-corrupted JVM — let it propagate to the
      // thread's default handler immediately AND record it for the
      // caller's rethrow.
      try t() catch {
        case scala.util.control.NonFatal(e) =>
          if (!err.compareAndSet(null, e)) err.get().addSuppressed(e)
        case e: Throwable =>
          err.compareAndSet(null, e); throw e
      }
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val e = err.get()
    if (e != null) throw e
  }

  private def withScratch[T](body: String => DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-vq")
    try graft.util.Caches.snapshot(body(dir.resolve("t").toString))
    finally {
      graft.util.Fs.deleteRecursively(dir)
    }
  }

  /** Shared-fixture groups: gate queries whose scratch tables follow the
    * SAME commit algebra build ONE table (and run their consumers in one
    * choreography), instead of each paying its own fixture I/O — the
    * versioned/streaming gate set is per-COMMIT machinery whose fixture
    * cost once dominated its sweep share (~20%), and rebuilding an
    * identical history per query gates nothing extra.
    *
    * The group builder runs once per (sfDir, group) per JVM, on whichever
    * member is asked for first, and memoizes every member's gate output
    * as COLLECTED rows + schema — driver-side plain data (each output is
    * a small aggregate or a capped row set), so the memo survives the
    * scratch-dir teardown and the bench harness's cache drain, and no
    * member's result ever depends on which member ran first. Each
    * member's oracle is unchanged: the shared table carries the UNION of
    * the members' columns, and every oracle recomputes from the slice
    * algebra, never from the table's shape. */
  private object Shared {
    private val memo = new java.util.concurrent.ConcurrentHashMap[
      (String, String), (Seq[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType)]()

    def member(s: SparkSession, dir: String, group: String, name: String)(
        build: (SparkSession, String, String) => Map[String, DataFrame])
        : DataFrame = {
      val key = (dir, s"$group/$name")
      memo.synchronized {
        if (!memo.containsKey(key)) {
          val scratch = Files.createTempDirectory("graft-vq")
          try {
            val outs = withFewPartitions(s) {
              build(s, dir, scratch.resolve("t").toString) }
            // collect the members CONCURRENTLY — independent read-only
            // actions over the finished fixture (each output is a small
            // aggregate/capped row set); sequential collects were the
            // last serial tail of the choreography (~3-4 s on fx2's six
            // members). Results land keyed, so order never mattered.
            val collected = new java.util.concurrent.ConcurrentHashMap[
              String, (Seq[org.apache.spark.sql.Row],
                org.apache.spark.sql.types.StructType)]()
            inParallel(outs.toSeq.map { case (n, df) => () => {
              collected.put(n, (df.collect().toSeq, df.schema)); ()
            } }: _*)
            outs.keys.foreach { n =>
              memo.put((dir, s"$group/$n"), collected.get(n))
            }
          } finally graft.util.Fs.deleteRecursively(scratch)
          // a name/group wiring mistake must fail loudly ONCE — without
          // this the miss NPEs below and, because containsKey stays
          // false, the expensive fixture silently rebuilds on every retry
          require(memo.containsKey(key),
            s"group builder for '$group' did not emit '$name' " +
              s"(emitted members never include it — check the " +
              s"Shared.member name against the builder's output map)")
        }
      }
      val (rows, schema) = memo.get(key)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, schema)
    }
  }

  /** Pin a mid-choreography read: collect NOW (before later commits or
    * teardown can change what a lazy plan would see) and hand back a
    * local frame. For SEMANTIC pins only — a read that a later commit
    * or view drop would change. Do NOT use it on the immutable testdata
    * slices: r13 pinned those too ("avoid per-commit re-scans") and the
    * six standalone versioned gates slowed 1.17-1.88x fresh-JVM —
    * LocalRelation rows re-serialize from the driver into EVERY job of
    * the choreography (5-7 commits + reads each), which costs more than
    * the tiny pruned parquet scans it avoided; reverting base pinning
    * restored the r12 floors exactly (r14 A/B, SCALING.md). coalesce(1):
    * a LocalRelation otherwise fans out to defaultParallelism partitions
    * (32 under Bench) and every downstream write pays the fan-out. */
  private def pinned(s: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(df.collect().toSeq.asJava, df.schema).coalesce(1)
  }

  /** CUSTOMER CDF fixture — one table, one commit history, four gates:
    * v0 append (even keys), the driver-side cursor consumers' bootstrap
    * cycle (q155), v1 CDF property, the SCD2 stream's bootstrap batch,
    * v2 MERGE (+50 on mod-3), v3 DV-DELETE (mod-10-4), one SCD2 batch
    * spanning both commits, the consumers' incremental cycle. q168 gates
    * the dimension, q165 the write-time envelopes (tableChanges -1→3),
    * q152 the DIFF-derived row-level feed (changeFeed 0→3 — identical
    * classifications to its old private fixture: the props commit
    * contributes no rows, and the DV delete classifies exactly as the
    * rewrite delete did), q155 the two cursor-checkpointed consumers.
    * The SCD2 sink runs as two checkpoint-resumed AvailableNow batches
    * (bootstrap, then fold after v2/v3) — no polling thread rides the
    * choreography, and the restart path this shape exercises stays gated
    * in CdfSpec; the dim is batch-boundary-independent either way. */
  private def buildCustomerCdf(s: SparkSession, dir: String, tbl: String)
      : Map[String, DataFrame] = {
    // the slice stays a plain pruned scan: the source parquet is
    // immutable, and re-deriving it per commit is cheaper than shipping
    // LocalRelation rows driver->tasks in every job (see pinned())
    val cust = customerSlice(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal"))
    stage("fx1", "v0-append") {
      VT.append(s, cust.filter(col("c_custkey") % 2 === 0), tbl) }  // v0
    val root = java.nio.file.Paths.get(tbl).getParent
    val dst = root.resolve("dst").toString
    val state = root.resolve("state").toString
    val ckM = root.resolve("ckm").toString
    val ckS = root.resolve("cks").toString
    // the two consumers read the same log and write to separate tables +
    // checkpoints — concurrent by design (see inParallel)
    def consumeCycle(): Unit = inParallel(
      () => graft.io.ChangeConsumer.mirror(s, tbl, dst, Seq("c_custkey"), ckM),
      () => graft.io.ChangeConsumer.maintainSumState(s, tbl, state,
        Seq("c_custkey"), Seq("c_mktsegment"), "c_acctbal", ckS))
    // both consumers bootstrap from the v0 snapshot
    stage("fx1", "consumers-bootstrap") { consumeCycle() }
    VT.setProperties(tbl, Map(VT.CdfProp -> "true"))              // v1
    val dim = s"$tbl.dim"
    // the SCD2 sink runs as checkpoint-resumed AvailableNow batches
    // (VERDICT r16 #6), not one long-lived ProcessingTime(50ms) query:
    // the polling thread lists the log every 50 ms for the whole
    // choreography — pure contention amplification on a busy host — while
    // AvailableNow drains exactly what has landed and terminates. Each
    // run resumes the same checkpoint (the restart path CdfSpec gates);
    // batch composition stays boundary-independent, so q168's hash is
    // unchanged. This is also the honest deployment shape: periodic
    // AvailableNow refreshes are how incremental sinks actually run.
    def runScd2(): Unit = {
      val q = graft.streaming.Streams.scd2Sink(
        s, tbl, dim, "c_custkey", s"$tbl.ck")
      val finished = try q.awaitTermination(120000) finally q.stop()
      require(finished, "fx1 scd2 AvailableNow run did not finish in 120 s")
    }
    // bootstrap: every snapshot key opens
    stage("fx1", "scd2-bootstrap") { runScd2() }
    val src = cust.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 50.0)
    stage("fx1", "merge-v2") {
      VT.merge(s, src, tbl, Seq("c_custkey")) }                   // v2
    stage("fx1", "delete-v3") {
      VT.deleteWhereDeferred(s, tbl, col("c_custkey") % 10 === 4) } // v3
    // both commits fold before this returns — as one batch or two
    // depending on source grouping; the dim is batch-boundary-independent.
    // The cursor consumers' incremental cycle (v1→v3) reads the same
    // landed commits into separate outputs, so it overlaps the fold —
    // the two halves were the fixture's two largest stages (r15: 3.5 s
    // + 4.5 s in-sweep) and share no state beyond the read-only log
    stage("fx1", "scd2-fold+consumers-incr") {
      inParallel(() => runScd2(), () => consumeCycle())
    }
    val fromMirror = VT.snapshot(s, dst)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("c_acctbal")).as("total"))
      .withColumn("consumer", lit("mirror"))
    val fromState = VT.snapshot(s, state)
      .select(col("c_mktsegment"), col("n"),
        col("sum_v").cast("double").as("total"))
      .withColumn("consumer", lit("state"))
    Map(
      "q168_scd2_stream" -> VT.snapshot(s, dim)
        .groupBy(col("is_current"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_custkey")).as("key_sum"),
          Q.dsum(col("c_acctbal")).as("bal_sum"))
        .orderBy(col("is_current")),
      "q165_cdf_sidecars" -> VT.tableChanges(s, tbl, -1, 3)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_custkey")).as("key_sum"),
          Q.dsum(col("c_acctbal")).as("bal_sum"))
        .orderBy(col("change_type")),
      "q152_change_feed" -> VT.changeFeed(s, tbl, 0, 3,
          Seq("c_custkey"), includePreimage = true)
        .orderBy(col("c_custkey"), col("_change_type")),
      "q155_cdc_mirror" -> fromMirror.unionByName(fromState)
        .orderBy(col("consumer"), col("c_mktsegment")))
  }

  /** ORDERS CDF fixture — one table, ONE append/props/MERGE/DV-DELETE
    * history, serving BOTH streaming consumers and all three incremental-
    * view members (the r12 "ivm" group folded in here: its commit algebra
    * was commit-for-commit identical — same mod-3 bootstrap, same
    * mod-5 MERGE, same F∧mod-7 delete — so rebuilding it as a second
    * table gated nothing extra).
    *
    * Streaming members: the raw change-feed stream (q166) and the
    * materialized-view sink (q167) bootstrap from the v1 snapshot, then
    * the MERGE and DV-DELETE land and both fold them incrementally. The
    * MV sink runs as two checkpoint-resumed AvailableNow batches (no
    * polling thread; CdfSpec keeps the restart path gated); q166 stays
    * ONE long-lived query because its memory sink cannot recover rows
    * across a restart.
    *
    * IVM members: sum / distinct-multiplicity / multi-measure states
    * bootstrap from the v0 snapshot and fold the v0→v3 change feed (the
    * props commit contributes no rows; the DV delete classifies exactly
    * as the old rewrite delete did — same precedent as the customer
    * group). Their oracles recompute the FINAL state from the slice
    * algebra, so the extra o_custkey column and the version shift are
    * invisible to every hash. */
  private def buildOrdersCdf(s: SparkSession, dir: String, tbl: String)
      : Map[String, DataFrame] = {
    val base = ordersSlice(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_custkey"))
    stage("fx2", "v0-append") {
      VT.append(s, base.filter(col("o_orderkey") % 3 === 0), tbl) } // v0
    VT.setProperties(tbl, Map(VT.CdfProp -> "true"))              // v1
    val state = s"$tbl.state"
    // the MV sink runs as checkpoint-resumed AvailableNow batches (same
    // rationale as fx1's scd2 — no 50 ms polling thread riding the whole
    // choreography). The q166 change-feed stream MUST stay long-lived:
    // its memory sink cannot recover rows across a restart (bootstrap
    // inserts would vanish from the in-memory table).
    def runMv(): Unit = {
      val m = graft.streaming.Streams.materializedViewSink(
        s, tbl, state, Seq("o_orderstatus"), "o_totalprice", s"$tbl.ckmv")
      val finished = try m.awaitTermination(120000) finally m.stop()
      require(finished, "fx2 MV AvailableNow run did not finish in 120 s")
    }
    val name = s"q166_stream_${System.nanoTime()}"
    val q = stage("fx2", "cdf-stream-start") {
      s.readStream.format("graft-versioned")
        .option("readChangeFeed", "true").load(tbl)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"$tbl.ck").start()
    }
    try {
      // snapshot batches: v0 state as inserts into BOTH streams — separate
      // sinks/checkpoints over the same read-only snapshot, so concurrent
      stage("fx2", "bootstrap-both") {
        inParallel(() => q.processAllAvailable(), () => runMv())
      }
      val src = base.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus", lit("U"))
      stage("fx2", "merge-v2") {
        VT.merge(s, src, tbl, Seq("o_orderkey")) }                // v2
      stage("fx2", "delete-v3") {
        VT.deleteWhereDeferred(s, tbl,
          col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0) } // v3
      // change tail (v2 + v3 envelopes) and the MV's O(changes)
      // incremental refresh fold the same landed commits concurrently
      stage("fx2", "fold-both") {
        inParallel(() => q.processAllAvailable(), () => runMv())
      }
    } finally q.stop()
    val q166 = pinned(s, s.table(name)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        Q.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("change_type")))
    s.catalog.dropTempView(name)
    // batch change feed for the IVM members: v0 bootstrap → v3 final —
    // SNAPSHOT both shared inputs once (Caches contract): three member
    // collects would otherwise re-derive the whole feed and re-scan the
    // v0 state three times each
    val cdf = graft.util.Caches.snapshot(
      VT.changeFeed(s, tbl, 0, 3, Seq("o_orderkey"),
        includePreimage = true))
    val v0 = graft.util.Caches.snapshot(VT.snapshot(s, tbl, Some(0)))
    Map(
      "q166_cdf_stream" -> q166,
      "q167_streaming_mv" -> VT.snapshot(s, state)
        .select(col("o_orderstatus"), col("n"),
          col("sum_v").cast("double").as("total"))
        .orderBy(col("o_orderstatus")),
      "q153_incremental_gold" -> {
        val state0 = graft.ops.IncrementalAgg.sumState(
          v0, Seq("o_orderstatus"), "o_totalprice")
        graft.ops.IncrementalAgg.finalizeSums(
            graft.ops.IncrementalAgg.applyChangeFeed(
              state0, cdf, Seq("o_orderstatus"), "o_totalprice"),
            Seq("o_orderstatus"))
          .orderBy(col("o_orderstatus"))
      },
      "q157_incremental_distinct" -> {
        val state0 = graft.ops.IncrementalAgg.distinctState(
          v0, Seq("o_orderstatus"), "o_custkey")
        graft.ops.IncrementalAgg.finalizeDistinct(
            graft.ops.IncrementalAgg.applyChangeFeedDistinct(
              state0, cdf, Seq("o_orderstatus"), "o_custkey"),
            Seq("o_orderstatus"))
          .orderBy(col("o_orderstatus"))
      },
      // MULTI-measure IVM: one state maintains BOTH sums through the
      // same feed fold (a real view is sum(amount)+sum(fee)-shaped, and
      // k single-measure states would fold the feed k times). Hashed
      // against the recompute of the final version — a sign error on
      // either measure, a missing retraction, or a group that failed to
      // drop flips the hash.
      "q170_incremental_multisum" -> {
        val cols = Seq("o_totalprice", "o_custkey")
        val state0 = graft.ops.IncrementalAgg.sumStateMulti(
          v0, Seq("o_orderstatus"), cols)
        graft.ops.IncrementalAgg.finalizeSumsMulti(
            graft.ops.IncrementalAgg.applyChangeFeedMulti(
              state0, cdf, Seq("o_orderstatus"), cols),
            Seq("o_orderstatus"), cols)
          .orderBy(col("o_orderstatus"))
      })
  }

  /** Data-skipping fixture — one clustered, stats- and Bloom-indexed
    * table serves all three pruning gates. q154 (snapshotWhere range)
    * and q163 (Bloom point lookup) PIN their reads before the DV delete
    * lands (their old fixtures had no delete); q162's planner-pruned
    * composite read observes it. */
  private def buildSkipping(s: SparkSession, dir: String, tbl: String)
      : Map[String, DataFrame] = {
    val base = ordersSlice(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    VT.append(s, base, tbl, statsFor = Seq("o_orderkey"))
    VT.compact(s, tbl, targetFiles = 8, clusterBy = Seq("o_orderkey"),
      statsFor = Seq("o_orderkey"), bloomFor = Seq("o_custkey"))
    val q154 = pinned(s, VT.snapshotWhere(s, tbl, "o_orderkey",
        lo = Some(1000L), hi = Some(5000L))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus")))
    val q163 = pinned(s, VT.snapshot(s, tbl)
      .filter(col("o_custkey").isin(37, 911))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_custkey")))
    VT.deleteWhereDeferred(s, tbl, col("o_orderkey") % 11 === 0)
    Map(
      "q154_pruned_scan" -> q154,
      "q163_bloom_skipping" -> q163,
      "q162_auto_skipping" -> VT.snapshot(s, tbl)
        .filter(col("o_orderkey").between(300, 900) &&
          col("o_orderstatus").isin("O", "F"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus")))
  }

  /** Bench hook: force each shared-fixture group's build (idempotent —
    * the memo makes a second call free), so the sweep can time fixture
    * choreography as its OWN bench keys instead of letting whichever
    * member runs first absorb its whole group's cost (r12's q152/q166
    * numbers were group-accounting artifacts; a regression inside any
    * single gate was invisible under the group total). Keys follow the
    * bench short-key convention (prefix up to '_', unique). */
  val fixtureGroups: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "fx1_customer_cdf_fixture" -> ((s: SparkSession, dir: String) => {
      Shared.member(s, dir, "customer-cdf", "q152_change_feed")(
        buildCustomerCdf); ()
    }),
    "fx2_orders_cdf_fixture" -> ((s: SparkSession, dir: String) => {
      Shared.member(s, dir, "orders-cdf", "q166_cdf_stream")(
        buildOrdersCdf); ()
    }),
    "fx3_skipping_fixture" -> ((s: SparkSession, dir: String) => {
      Shared.member(s, dir, "skipping", "q154_pruned_scan")(
        buildSkipping); ()
    }))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Time travel across a commit history: bootstrap, append, MERGE,
    // file-granular DELETE, RESTORE — then read EVERY version back through
    // the log and aggregate it. One row per version; the oracle recomputes
    // each version's state from the same deterministic key-slice algebra.
    "q151_time_travel" -> ((s, dir) => withScratch { tbl =>
      val base = ordersSlice(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      VT.append(s, base.filter(col("o_orderkey") % 3 === 0), tbl)    // v0
      VT.append(s, base.filter(col("o_orderkey") % 3 === 1), tbl)    // v1
      val src = base.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus", lit("U"))
      VT.merge(s, src, tbl, Seq("o_orderkey"))                       // v2
      VT.deleteWhere(s, tbl,
        col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0) // v3
      VT.restore(s, tbl, 1)                                          // v4
      (0L to 4L).map { v =>
        VT.snapshot(s, tbl, Some(v)).agg(
          count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("total"))
          .withColumn("version", lit(v))
      }.reduce(_.union(_))
        .select(col("version"), col("n"), col("total"))
        .orderBy(col("version"))
    }),

    // Change feed (CDF) between two versions: v0 bootstrap, v1 MERGE
    // (updates + inserts), v2 DELETE; the diff v0→v2 classifies every key
    // as insert / update pre+postimage / delete with the correct payload
    // side (preimages carry v0 values, postimages v2 values).
    "q152_change_feed" -> ((s, dir) =>
      Shared.member(s, dir, "customer-cdf", "q152_change_feed")(
        buildCustomerCdf)),

    // Catalyst-INTEGRATED data skipping: the snapshot read is planned over
    // a GraftFileIndex, so a PLAIN .filter(...) — no snapshotWhere
    // cooperation, composite predicate (range AND IN) — prunes files
    // against the log's per-file min/max at planning time, THROUGH an
    // active deletion-vector anti-join. GraftFileIndexSpec asserts the
    // file counts actually shrink; the driver hash-checks value exactness
    // here (skipping must only ever remove provably-empty work).
    "q162_auto_skipping" -> ((s, dir) =>
      Shared.member(s, dir, "skipping", "q162_auto_skipping")(
        buildSkipping)),

    // Per-file BLOOM point-lookup skipping: the table is clustered on
    // o_orderkey, so every file's o_custkey RANGE spans the whole domain —
    // min/max can never prune the probe. The compact-time Bloom index on
    // o_custkey answers each file definitively (no false negatives);
    // BloomSkipSpec asserts the scan counts, the driver hash-checks that
    // skipping never changes a value.
    "q163_bloom_skipping" -> ((s, dir) =>
      Shared.member(s, dir, "skipping", "q163_bloom_skipping")(
        buildSkipping)),

    // Manifest-stats data skipping: write with per-file min/max recorded
    // in the commit log, cluster-compact on the key, then answer a narrow
    // key-range aggregate through the explicit snapshotWhere API — the
    // driver hash-checks the values; VersionedTableSpec asserts the file
    // pruning itself (inputFiles strictly shrinks, residual exactness).
    "q154_pruned_scan" -> ((s, dir) =>
      Shared.member(s, dir, "skipping", "q154_pruned_scan")(
        buildSkipping)),

    // CDC consumer loop: a versioned source evolves under MERGE + DELETE
    // while two cursor-checkpointed consumers follow it — a row-level
    // MIRROR (file-granular applyChanges commits) and an incrementally
    // MAINTAINED per-segment sum state (bootstrap aggregate, then
    // O(changes) change-feed folds). Two full consumption cycles run
    // inside the query, so the cursor advance, bootstrap-vs-delta
    // branch, and txn-guarded destination commits are all on the hashed
    // path. Output: the same per-segment aggregate read back from BOTH
    // destinations — the oracle computes it once from the slice algebra
    // and expects the two tagged copies to agree exactly.
    "q155_cdc_mirror" -> ((s, dir) =>
      Shared.member(s, dir, "customer-cdf", "q155_cdc_mirror")(
        buildCustomerCdf)),

    // True Z-ORDER through the log: cluster orders on the interleaved
    // (o_custkey, o_orderkey) key, then answer a range predicate on the
    // TRAILING dimension through snapshotWhere — the read that
    // lexicographic clustering cannot prune (VersionedTableSpec proves
    // the file-skip contrast; the driver hash-checks that the pruned
    // read is VALUE-exact against a plain recompute).
    "q156_zorder_scan" -> ((s, dir) => withScratch { tbl =>
      val base = ordersSlice(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      VT.append(s, base, tbl)
      VT.compact(s, tbl, targetFiles = 16,
        clusterBy = Seq("o_custkey", "o_orderkey"),
        statsFor = Seq("o_custkey", "o_orderkey"), zorder = true)
      VT.snapshotWhere(s, tbl, "o_orderkey",
          lo = Some(200L), hi = Some(999L))
        .groupBy((col("o_custkey") % 10).as("cust_band"))
        .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("cust_band"))
    }),

    // Deferred row-level DELETE (deletion vectors): v0 bootstrap, two DV
    // commits (no data file rewritten — the deletes live in sidecars the
    // reads subtract), then a compaction that materializes them. One row
    // per version; the oracle recomputes each LOGICAL state from the
    // slice algebra — v3 (post-compact) must equal v2 exactly, proving
    // materialization is a logical no-op.
    "q161_deletion_vectors" -> ((s, dir) => withScratch { tbl =>
      val base = ordersSlice(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      VT.append(s, base.filter(col("o_orderkey") % 3 === 0), tbl)    // v0
      VT.deleteWhereDeferred(s, tbl,
        col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0) // v1
      VT.deleteWhereDeferred(s, tbl, col("o_orderkey") % 5 === 0)    // v2
      VT.compact(s, tbl, targetFiles = 4)                            // v3
      (0L to 3L).map { v =>
        VT.snapshot(s, tbl, Some(v)).agg(
          count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("total"))
          .withColumn("version", lit(v))
      }.reduce(_.union(_))
        .select(col("version"), col("n"), col("total"))
        .orderBy(col("version"))
    }),

    // Incremental materialized-view maintenance THROUGH the log: bootstrap
    // a per-status sum state at v0, then fold the v0→v2 change feed into
    // it — updates RETRACT their preimage from the old status group and
    // add the postimage to the new one (the merge flips 'F'/'O' rows to
    // 'U'), deletes retract outright. The maintained state must equal a
    // full recompute of the final version bit-for-bit (decimal group
    // algebra) — which is exactly what the oracle computes from the same
    // slice algebra, never having seen the incremental path.
    "q153_incremental_gold" -> ((s, dir) =>
      Shared.member(s, dir, "orders-cdf", "q153_incremental_gold")(
        buildOrdersCdf)),

    // Incremental COUNT(DISTINCT) maintenance — the aggregate plain IVM
    // cannot keep (a delete removes a value only when its LAST carrier
    // row goes): two-level multiplicity state folded through the same
    // append/MERGE/DELETE change feed as q153. The MERGE moves rows
    // across status groups (preimage retraction) and the DELETE removes
    // some customers' last rows (multiplicity → 0), so both retraction
    // paths sit inside the hash-checked result.
    "q157_incremental_distinct" -> ((s, dir) =>
      Shared.member(s, dir, "orders-cdf", "q157_incremental_distinct")(
        buildOrdersCdf)),

    // Multi-measure retractable IVM (sumStateMulti/applyChangeFeedMulti):
    // both measures maintained by ONE feed fold, hash-checked against
    // the DuckDB recompute of the final version.
    "q170_incremental_multisum" -> ((s, dir) =>
      Shared.member(s, dir, "orders-cdf", "q170_incremental_multisum")(
        buildOrdersCdf)),

    // External CDC ingestion: Debezium-shaped JSON envelopes (creates,
    // full before/after updates, deletes — synthesized with to_json and
    // parsed back, so the real parser runs) adapted into the engine's
    // change-feed schema and folded into a sum state. The oracle
    // recomputes the final per-status aggregate from the same envelope
    // algebra — a dropped preimage, a misrouted op code, or a parse
    // regression all flip the hash.
    // The STREAMING source over the commit log, oracle-checked
    // end-to-end: a real MicroBatchExecution tails the scratch table —
    // initial snapshot batch (deletion vectors subtracted) plus a
    // mid-flight append picked up as a tail batch — into a memory sink,
    // and the delivered rows must hash-match the batch recompute of the
    // same slice algebra. Exactly-once delivery IS the gate: a replayed
    // or dropped batch shifts every count.
    "q164_versioned_stream" -> ((s, dir) => withScratch { tbl =>
      val base = ordersSlice(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      VT.append(s, base.filter(col("o_orderkey") % 3 === 0), tbl)     // v0
      VT.append(s, base.filter(col("o_orderkey") % 3 === 1), tbl)     // v1
      VT.deleteWhereDeferred(s, tbl,
        col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0)  // v2
      val name = s"q164_stream_${System.nanoTime()}"
      val q = s.readStream.format("graft-versioned").load(tbl)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"$tbl.ck").start()
      try {
        q.processAllAvailable() // snapshot batch: v0+v1 minus the DV
        VT.append(s, base.filter(col("o_orderkey") % 3 === 2), tbl)   // v3
        q.processAllAvailable() // tail batch: v3's files only
      } finally q.stop()
      val out = s.table(name)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
      val rows = out.collect()
      val schema = out.schema
      s.catalog.dropTempView(name)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .orderBy(col("o_orderstatus"))
    }),

    // WRITE-TIME change data feed (the `_change_data` sidecar design):
    // with the table property set, MERGE and DV-DELETE capture their
    // row-level envelopes at commit time, and tableChanges serves the
    // whole history KEYLESSLY by scanning sidecars + append files —
    // no diff recompute. The gate aggregates per change type, so a
    // missing envelope class, a wrong payload side (pre vs post), or a
    // mis-attributed version all flip the hash.
    "q165_cdf_sidecars" -> ((s, dir) =>
      Shared.member(s, dir, "customer-cdf", "q165_cdf_sidecars")(
        buildCustomerCdf)),

    // STREAMING change data feed: a real MicroBatchExecution tails the
    // table with readChangeFeed=true — the initial snapshot arrives as
    // insert envelopes, then a MERGE and a deletion-vector DELETE land
    // mid-flight and stream as sidecar-backed change batches. The oracle
    // recomputes every envelope class from the slice algebra; a replayed
    // batch, a dropped envelope, or a wrong payload side flips the hash.
    "q166_cdf_stream" -> ((s, dir) =>
      Shared.member(s, dir, "orders-cdf", "q166_cdf_stream")(
        buildOrdersCdf)),

    // Streaming MATERIALIZED VIEW: a change-feed stream maintains a
    // keyed sum-state table across two runs — bootstrap from the
    // snapshot-as-inserts batch, then an incremental refresh folding a
    // MERGE (group keys MOVE: pre retracts from the old status, post
    // adds to 'U') and a DV-DELETE (pure retraction) — and the final
    // state must hash-match the DuckDB recompute of the final table.
    // A double-applied batch, a missed retraction, or a group that
    // failed to drop at n=0 all flip the hash.
    "q167_streaming_mv" -> ((s, dir) =>
      Shared.member(s, dir, "orders-cdf", "q167_streaming_mv")(
        buildOrdersCdf)),

    // Streaming TYPE-2 SCD maintenance: the change-feed stream keeps a
    // versioned dimension of validity windows — bootstrap opens every
    // key, a MERGE closes updated keys' versions and opens new ones
    // (inserting brand-new keys), a DV-DELETE closes without reopening.
    // Hashing per is_current (count, key sum, balance sum) pins the
    // whole timeline algebra: a version not closed, a delete that
    // reopened, or a payload on the wrong side flips the hash.
    // (Validity TIMESTAMPS are wall-clock commit times — deliberately
    // excluded from the gate; CdfSpec asserts the windows tile.)
    "q168_scd2_stream" -> ((s, dir) =>
      Shared.member(s, dir, "customer-cdf", "q168_scd2_stream")(
        buildCustomerCdf)),

    // Auto-compaction under a streaming-ingest append pattern: six
    // 1-file commits against a table with `graft.autoCompact = true`
    // must fold into few files WITHOUT changing a single value — the
    // query requires the file count actually dropped (loud failure if
    // the trigger broke), and the hash gate proves reads through the
    // rewritten files are exact. The oracle is the plain union algebra:
    // compaction is invisible or it is wrong.
    "q169_auto_compact" -> ((s, dir) => withScratch { tbl =>
      val base = ordersSlice(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      VT.append(s, base.filter(col("o_orderkey") % 6 === 0), tbl)   // v0
      VT.setProperties(tbl, Map(
        VT.AutoCompactProp -> "true",
        VT.AutoCompactMinFilesProp -> "4"))                         // v1
      (1 to 5).foreach(i =>
        VT.append(s, base.filter(col("o_orderkey") % 6 === i)
          .coalesce(1), tbl))
      val nFiles = VT.snapshot(s, tbl).inputFiles.length
      require(nFiles < 6,
        s"auto-compaction never fired: $nFiles files after 6 appends")
      VT.snapshot(s, tbl)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          Q.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    "q160_cdc_envelope" -> ((s, dir) => {
      val rowSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      val base = ordersSlice(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val row = struct(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      val nullRow = lit(null).cast(rowSchema)
      def env(op: String, before: org.apache.spark.sql.Column,
          after: org.apache.spark.sql.Column) =
        to_json(struct(lit(op).as("op"), before.as("before"),
          after.as("after")))
      val creates = base.filter(col("o_orderkey") % 3 === 1)
        .select(env("c", nullRow, row).as("envelope"))
      val updates = base
        .filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 5 === 0)
        .select(env("u", row, struct(col("o_orderkey"),
          lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))).as("envelope"))
      val deletes = base
        .filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 5 =!= 0 &&
          col("o_orderkey") % 7 === 0 && col("o_orderstatus") === "F")
        .select(env("d", row, nullRow).as("envelope"))
      val junk = s.range(3).select(lit("{not json").as("envelope"))
      val feed = graft.io.ChangeConsumer.fromCdcEnvelope(
        creates.unionByName(updates).unionByName(deletes).unionByName(junk),
        "envelope", rowSchema)
      val state0 = graft.ops.IncrementalAgg.sumState(
        base.filter(col("o_orderkey") % 3 === 0),
        Seq("o_orderstatus"), "o_totalprice")
      graft.ops.IncrementalAgg.finalizeSums(
          graft.ops.IncrementalAgg.applyChangeFeed(
            state0, feed, Seq("o_orderstatus"), "o_totalprice"),
          Seq("o_orderstatus"))
        .orderBy(col("o_orderstatus"))
    }))

  val oracles: Map[String, String] = Map(

    // Every envelope class recomputed from the slice algebra: v0's
    // bootstrap appends are inserts; the merge splits its source into
    // update pre+post (key existed: even ∩ mod-3) and inserts (odd ∩
    // mod-3, +50 payload); the DV delete names the post-merge state's
    // mod-10-4 rows. Aggregated per change type with exact decimal sums.
    "q165_cdf_sidecars" ->
      """WITH base AS (
        |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 5000),
        |v0 AS (SELECT * FROM base WHERE c_custkey % 2 = 0),
        |src AS (SELECT c_custkey, c_acctbal + 50.0 AS c_acctbal
        |  FROM base WHERE c_custkey % 3 = 0),
        |pre AS (SELECT * FROM v0 WHERE c_custkey % 3 = 0),
        |post AS (SELECT * FROM src WHERE c_custkey % 2 = 0),
        |ins AS (SELECT * FROM src WHERE c_custkey % 2 <> 0),
        |v2 AS (
        |  SELECT c_custkey, CASE WHEN c_custkey % 3 = 0
        |    THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal FROM v0
        |  UNION ALL SELECT * FROM ins),
        |del AS (SELECT * FROM v2 WHERE c_custkey % 10 = 4),
        |env AS (
        |  SELECT 'insert' AS change_type, * FROM v0
        |  UNION ALL SELECT 'insert', * FROM ins
        |  UNION ALL SELECT 'update_preimage', * FROM pre
        |  UNION ALL SELECT 'update_postimage', * FROM post
        |  UNION ALL SELECT 'delete', * FROM del)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM env GROUP BY change_type ORDER BY change_type""".stripMargin,

    // The final view state the streaming MV must converge to: the final
    // source table (merge applied, F/mod-7 rows deleted) aggregated per
    // status with exact decimal sums. The maintained state reached it
    // via bootstrap + retractions, never a rescan — but the VALUES must
    // be bit-identical to this recompute.
    "q167_streaming_mv" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
        |  FROM orders WHERE o_orderkey < 20000),
        |snap AS (SELECT * FROM base WHERE k % 3 = 0),
        |v2 AS (
        |  SELECT k, CASE WHEN k % 5 = 0 THEN 'U' ELSE st END AS st,
        |    CASE WHEN k % 5 = 0 THEN p + 1000.0 ELSE p END AS p
        |  FROM snap
        |  UNION ALL
        |  SELECT k, 'U' AS st, p + 1000.0 AS p FROM base
        |  WHERE k % 5 = 0 AND k % 3 <> 0),
        |v3 AS (SELECT * FROM v2 WHERE NOT (st = 'F' AND k % 7 = 0))
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM v3 GROUP BY st ORDER BY st""".stripMargin,

    // The whole table regardless of how many files it folded into —
    // compaction must be value-invisible.
    "q169_auto_compact" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey < 20000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // The dimension's version rows by currency. CLOSED versions: the
    // bootstrap rows of keys later updated (mod-3) or deleted (mod-10-4)
    // at their ORIGINAL balance, plus the v2-opened (+50) rows of keys
    // the delete then closed (mod-3 ∩ mod-10-4). CURRENT versions:
    // untouched bootstrap keys at original balance, plus surviving
    // mod-3 versions at +50 (including the odd keys the merge inserted).
    "q168_scd2_stream" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_acctbal AS b FROM customer
        |  WHERE c_custkey < 5000),
        |v0 AS (SELECT * FROM base WHERE k % 2 = 0),
        |closed AS (
        |  SELECT k, b FROM v0 WHERE k % 3 = 0 OR k % 10 = 4
        |  UNION ALL
        |  SELECT k, b + 50.0 FROM base WHERE k % 3 = 0 AND k % 10 = 4),
        |cur AS (
        |  SELECT k, b FROM v0 WHERE k % 3 <> 0 AND k % 10 <> 4
        |  UNION ALL
        |  SELECT k, b + 50.0 FROM base WHERE k % 3 = 0 AND k % 10 <> 4),
        |env AS (
        |  SELECT FALSE AS is_current, * FROM closed
        |  UNION ALL SELECT TRUE AS is_current, * FROM cur)
        |SELECT is_current, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM env GROUP BY is_current ORDER BY is_current""".stripMargin,

    // What the change-feed STREAM must deliver exactly once: the v1
    // snapshot (mod-3 rows) as inserts, the merge's pre/post/insert
    // split on whether the mod-5 source key existed, and the DV
    // delete's F-status mod-7 rows evaluated against the POST-merge
    // state (updated rows are 'U', so they never match).
    "q166_cdf_stream" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey < 20000),
        |snap AS (SELECT * FROM base WHERE o_orderkey % 3 = 0),
        |src AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |    o_totalprice + 1000.0 AS o_totalprice
        |  FROM base WHERE o_orderkey % 5 = 0),
        |pre AS (SELECT * FROM snap WHERE o_orderkey % 5 = 0),
        |post AS (SELECT * FROM src WHERE o_orderkey % 3 = 0),
        |ins AS (SELECT * FROM src WHERE o_orderkey % 3 <> 0),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'U'
        |      ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM snap
        |  UNION ALL SELECT * FROM ins),
        |del AS (SELECT * FROM v2
        |  WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0),
        |env AS (
        |  SELECT 'insert' AS change_type, o_orderkey, o_totalprice FROM snap
        |  UNION ALL SELECT 'insert', o_orderkey, o_totalprice FROM ins
        |  UNION ALL SELECT 'update_preimage', o_orderkey, o_totalprice
        |    FROM pre
        |  UNION ALL SELECT 'update_postimage', o_orderkey, o_totalprice
        |    FROM post
        |  UNION ALL SELECT 'delete', o_orderkey, o_totalprice FROM del)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM env GROUP BY change_type ORDER BY change_type""".stripMargin,

    // Batch recompute of what the stream must deliver exactly once: the
    // v2 snapshot state (mods 0/1 minus the DV-deleted keys) plus the
    // tail append (mod 2) — grouped per status with exact decimal sums,
    // so batch boundaries and file order cannot affect the hash.
    "q164_versioned_stream" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey < 20000),
        |snap AS (SELECT * FROM base WHERE o_orderkey % 3 IN (0, 1)
        |  AND NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)),
        |delivered AS (
        |  SELECT * FROM snap
        |  UNION ALL SELECT * FROM base WHERE o_orderkey % 3 = 2)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM delivered GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // Version states derived from the same slice algebra the Spark side
    // commits: v0 = keys≡0 (mod 3); v1 = +keys≡1; v2 = MERGE of the
    // (key%5=0, price+1000, status 'U') source into v1; v3 = v2 minus
    // (status F ∧ key%7=0); v4 = RESTORE to v1.
    // Logical states of the DV history: v1 = v0 minus (F AND key%7=0),
    // v2 = v1 minus key%5=0, v3 = v2 (compaction materializes, changes
    // nothing logically).
    "q161_deletion_vectors" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey < 20000 AND o_orderkey % 3 = 0),
        |v1 AS (SELECT * FROM base
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)),
        |v2 AS (SELECT * FROM v1 WHERE o_orderkey % 5 <> 0),
        |states AS (
        |  SELECT 0 AS version, * FROM base
        |  UNION ALL SELECT 1, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2
        |  UNION ALL SELECT 3, * FROM v2)
        |SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM states GROUP BY version ORDER BY version""".stripMargin,

    "q151_time_travel" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey < 20000),
        |v1 AS (SELECT * FROM base WHERE o_orderkey % 3 IN (0, 1)),
        |v2 AS (
        |  SELECT t.o_orderkey,
        |    CASE WHEN t.o_orderkey % 5 = 0 THEN 'U' ELSE t.o_orderstatus END AS o_orderstatus,
        |    CASE WHEN t.o_orderkey % 5 = 0 THEN t.o_totalprice + 1000.0 ELSE t.o_totalprice END AS o_totalprice
        |  FROM v1 t
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        |  FROM base WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 = 2),
        |states AS (
        |  SELECT 0 AS version, * FROM base WHERE o_orderkey % 3 = 0
        |  UNION ALL SELECT 1, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2
        |  UNION ALL SELECT 3, * FROM v2
        |    WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
        |  UNION ALL SELECT 4, * FROM v1)
        |SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM states GROUP BY version ORDER BY version""".stripMargin,

    // Closed-form CDF: inserts are odd multiples of 3 (absent from the
    // even-key v0); updates are multiples of 6 that survive the key%10=4
    // delete — emitted twice (preimage with v0 values, postimage with
    // +50); deletes are the key%10=4 rows of v0 with their PRE-image
    // values (the v1 update to some of them is invisible to a v0→v2 diff).
    "q152_change_feed" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  c_acctbal + 50.0 AS c_acctbal, 'insert' AS _change_type
        |FROM customer
        |WHERE c_custkey % 3 = 0 AND c_custkey % 2 = 1 AND c_custkey < 5000
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
        |  'update_preimage'
        |FROM customer
        |WHERE c_custkey % 6 = 0 AND c_custkey % 10 <> 4 AND c_custkey < 5000
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, c_acctbal + 50.0,
        |  'update_postimage'
        |FROM customer
        |WHERE c_custkey % 6 = 0 AND c_custkey % 10 <> 4 AND c_custkey < 5000
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, c_acctbal, 'delete'
        |FROM customer WHERE c_custkey % 10 = 4 AND c_custkey < 5000
        |ORDER BY c_custkey, _change_type""".stripMargin,

    // One aggregate from the slice algebra (final state = keys with
    // %2=0 or %3=0, +50 on %3=0, minus %10=4), emitted twice — the
    // mirror and the maintained state must both land on it exactly.
    "q155_cdc_mirror" ->
      """WITH fin AS (
        |  SELECT c_custkey, c_mktsegment,
        |    c_acctbal + CASE WHEN c_custkey % 3 = 0 THEN 50.0 ELSE 0.0 END AS bal
        |  FROM customer
        |  WHERE (c_custkey % 2 = 0 OR c_custkey % 3 = 0)
        |    AND c_custkey % 10 <> 4 AND c_custkey < 5000),
        |agg AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
        |    CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM fin GROUP BY c_mktsegment)
        |SELECT c_mktsegment, n, total, s.consumer
        |FROM agg CROSS JOIN (
        |  SELECT 'mirror' AS consumer UNION ALL SELECT 'state') s
        |ORDER BY s.consumer, c_mktsegment""".stripMargin,

    // plain range recompute — the z-order-pruned trailing-dimension
    // read must not change a single value
    "q156_zorder_scan" ->
      """SELECT CAST(o_custkey % 10 AS BIGINT) AS cust_band,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey BETWEEN 200 AND 999
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // plain recompute of the slice algebra (DV-deleted keys excluded) —
    // the planner-pruned read must not change a single value
    "q162_auto_skipping" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey BETWEEN 300 AND 900 AND o_orderkey < 20000
        |  AND o_orderkey % 11 <> 0 AND o_orderstatus IN ('O', 'F')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // plain recompute — the Bloom-skipped point lookup must not change
    // a single value
    "q163_bloom_skipping" ->
      """SELECT o_custkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey < 20000 AND o_custkey IN (37, 911)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // plain range recompute — the pruned manifest read must not change
    // a single value
    "q154_pruned_scan" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Full recompute of the FINAL version's per-status aggregate from the
    // slice algebra — equality with the incrementally-maintained state IS
    // the check (exact decimal algebra; updates moved rows across status
    // groups, so a sign error or missing preimage shows immediately).
    "q153_incremental_gold" ->
      """WITH v1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey < 20000
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 <> 0 AND o_orderkey < 20000),
        |v2 AS (
        |  SELECT * FROM v1 WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0))
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_value
        |FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Full recompute of the FINAL version's per-status distinct-customer
    // count from the same slice algebra — equality with the maintained
    // multiplicity state IS the check (a missing preimage retraction or
    // a multiplicity-zero row that fails to drop shows immediately).
    "q157_incremental_distinct" ->
      """WITH v1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |    o_custkey
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey < 20000
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_custkey
        |  FROM orders
        |  WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 <> 0 AND o_orderkey < 20000),
        |v2 AS (
        |  SELECT * FROM v1 WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0))
        |SELECT o_orderstatus,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        |FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // The multi-measure twin of q153: the same final-version recompute,
    // both measures aggregated with the same exact decimal algebra and
    // n-division averages.
    "q170_incremental_multisum" ->
      """WITH v1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
        |    o_custkey
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey < 20000
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |    o_totalprice + 1000.0 AS o_totalprice, o_custkey
        |  FROM orders
        |  WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 <> 0 AND o_orderkey < 20000),
        |v2 AS (
        |  SELECT * FROM v1 WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0))
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_o_totalprice,
        |  CAST(SUM(CAST(o_custkey AS DECIMAL(38,2))) AS DOUBLE) AS sum_o_custkey,
        |  CAST(SUM(CAST(o_custkey AS DECIMAL(38,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_o_custkey
        |FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Final state from the envelope algebra: base = keys≡0 (mod 3);
    // updates move key%5=0 rows to ('U', price+1000); deletes remove
    // (key%7=0, %5≠0, status F); creates add keys≡1 (mod 3).
    "q160_cdc_envelope" ->
      """WITH fin AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 3 = 0 AND o_orderkey < 20000
        |    AND NOT (o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0 AND o_orderstatus = 'F')
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey < 20000)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_value
        |FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}
