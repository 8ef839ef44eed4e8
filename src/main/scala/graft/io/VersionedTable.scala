package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.util.{Fmt, Stages}

/** Log-mediated versioned parquet table: the engine's one storage format,
  * the Delta-lake surface the reference gets MERGE concurrency, `RESTORE`
  * history and OPTIMIZE/ZORDER/VACUUM from (reference
  * `src/utils/spark_utils.py:285-344,519-588`).
  *
  * Layout:
  * {{{
  *   table/
  *     <uuid>-partNNNN.snappy.parquet      data files (immutable once committed)
  *     _graft_log/
  *       00000000000000000000.json         one commit per version
  *       00000000000000000010.checkpoint   full file-list snapshot every 10th
  * }}}
  *
  * Each commit records the files it adds/removes plus the writer's schema;
  * the table state at version V is the replay of commits 0..V (from the
  * nearest checkpoint — O(10) commits read, not O(V)). Data files are
  * immutable: writers only ever ADD files and mark old ones removed, so
  * every historical version stays readable until [[vacuum]] ages its files
  * out — exactly the Delta time-travel/retention contract.
  *
  * Concurrency:
  *  - commits publish through a pluggable [[CommitArbiter]] (default:
  *    ATOMIC hard-link/move of a fully-written temp file to the next
  *    version slot — the filesystem arbitrates racing writers, first
  *    claim wins). The default arbiter is correct on POSIX filesystems
  *    ONLY; S3/GCS-style object stores need an external-arbitration
  *    implementation — see [[CommitArbiter]];
  *  - [[append]] has no logical conflicts — a losing appender simply
  *    re-claims the next slot (bounded retries);
  *  - snapshot-replacing commits ([[overwrite]], [[merge]], [[deleteWhere]],
  *    [[restore]], [[compact]]) are OPTIMISTIC: they remember the version
  *    they read, and if anyone commits in between they throw
  *    [[ConcurrentWriteException]] rather than silently dropping the
  *    interleaved writer's rows (write-serializable, like Delta's
  *    ConcurrentAppendException).
  *
  * Scale notes: the log holds file PATHS, not data — same driver-side
  * design as Delta (whose checkpoints are also a driver-readable manifest).
  * Reads hand Spark an explicit file list; pushdown/pruning/AQE behave
  * exactly as for any parquet scan. [[deleteWhere]] is file-granular: only
  * files that actually contain matching rows are rewritten (`_metadata
  * .file_path` pruning), so a selective delete on a 100 TB table rewrites
  * megabytes, not the table.
  */
object VersionedTable {

  private val LogDir = "_graft_log"
  private val CheckpointEvery = 10
  private val mapper = new ObjectMapper()

  /** Per-file column stats: file → column → (min, max) as strings cast
    * from the column values (absent column or all-null file = no entry =
    * never pruned). */
  type FileStats = Map[String, Map[String, (String, String)]]

  /** Isolation level for the read-modify-write ops (MERGE, DELETE,
    * OPTIMIZE, applyChanges) — Delta's two levels, same semantics.
    * Pure appends are unaffected (they conflict with nothing and always
    * retry the slot race). */
  sealed trait Isolation
  object Isolation {
    /** The default (as in Delta): interleaved commits that are blind
      * add-only appends (no removes, no deletion-vector changes, no
      * schema change) REBASE — the op's remove/DV sets were derived at
      * its read version and an append cannot invalidate them, so the op
      * commits on top rather than aborting. The documented anomaly: rows
      * appended concurrently are not seen by the op's predicate/join
      * (a concurrent MERGE + blind append can momentarily duplicate a
      * key; the next MERGE collapses it). Anything beyond a blind append
      * is a real conflict and still throws. At 100 TB this is the
      * difference between a nightly OPTIMIZE that finishes and one that
      * loses every race to a streaming ingest append. */
    case object WriteSerializable extends Isolation
    /** Strict: ANY interleaved commit aborts the op. */
    case object Serializable extends Isolation
  }

  /** A snapshot-replacing commit lost to an interleaved writer under its
    * [[Isolation]] level, or a writer could not claim a log slot within
    * its retries. Nothing was committed: re-read the table and retry
    * (Delta's ConcurrentModificationException family). */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  final case class Commit(
      version: Long,
      ts: Long,
      op: String,
      add: Seq[String],
      remove: Seq[String],
      schemaJson: String,
      txnApp: Option[String] = None,
      txnId: Option[Long] = None,
      stats: FileStats = Map.empty,
      // deletion-vector sidecar files added/retired by this commit
      // (absent in pre-DV commits — parse defaults to empty)
      dvAdd: Seq[String] = Nil,
      dvRemove: Seq[String] = Nil,
      // table-property changes carried by this commit (Delta's
      // TBLPROPERTIES metadata channel; CHECK constraints live here
      // under the `constraint.` prefix)
      propsSet: Map[String, String] = Map.empty,
      propsUnset: Seq[String] = Nil,
      // FULL live-file schema lineage after this commit (last = current).
      // Only RESTORE sets it: its file set is the target version's — files
      // that may span schema versions — and a single schemaJson cannot
      // describe that. When present it REPLACES the replayed lineage
      // wholesale (see [[stateAt]]); absent (every other op) the lineage
      // evolves incrementally from schemaJson.
      schemaLineage: Seq[String] = Nil,
      // Bloom-index sidecar files added by this commit (per-data-file
      // point-lookup filters — see [[computeBlooms]]); absent in
      // pre-bloom commits, parse defaults to empty
      bloomAdd: Seq[String] = Nil,
      // change-data sidecar files written by this commit (row-level
      // pre/post-image envelopes captured at WRITE time — Delta's
      // `_change_data` design; see [[tableChanges]]); only data-changing
      // ops on a CDF-enabled table carry them, parse defaults to empty
      cdcAdd: Seq[String] = Nil)

  // ---------------------------------------------------------------- log IO

  private def logPath(table: String): Path = Paths.get(table, LogDir)

  private def versionFile(table: String, v: Long): Path =
    logPath(table).resolve(f"$v%020d.json")

  private def checkpointFile(table: String, v: Long): Path =
    logPath(table).resolve(f"$v%020d.checkpoint")

  private def statsJson(stats: FileStats): String =
    stats.map { case (f, cols) =>
      s"${Fmt.jsonString(f)}:" + cols.map { case (c, (lo, hi)) =>
        s"${Fmt.jsonString(c)}:[${Fmt.jsonString(lo)},${Fmt.jsonString(hi)}]"
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")

  private def commitJson(c: Commit): String = {
    def arr(xs: Seq[String]) = xs.map(Fmt.jsonString).mkString("[", ",", "]")
    val txn = (c.txnApp, c.txnId) match {
      case (Some(app), Some(id)) =>
        s""","txnApp":${Fmt.jsonString(app)},"txnId":$id"""
      case _ => ""
    }
    val st = if (c.stats.isEmpty) "" else s""","stats":${statsJson(c.stats)}"""
    val dv = (if (c.dvAdd.isEmpty) "" else s""","dvAdd":${arr(c.dvAdd)}""") +
      (if (c.dvRemove.isEmpty) "" else s""","dvRemove":${arr(c.dvRemove)}""")
    val pr = (if (c.propsSet.isEmpty) ""
      else s""","propsSet":""" + c.propsSet.map { case (k, v) =>
        s"${Fmt.jsonString(k)}:${Fmt.jsonString(v)}"
      }.mkString("{", ",", "}")) +
      (if (c.propsUnset.isEmpty) ""
      else s""","propsUnset":${arr(c.propsUnset)}""")
    val lin = if (c.schemaLineage.isEmpty) ""
      else s""","schemaLineage":${arr(c.schemaLineage)}"""
    val bl = if (c.bloomAdd.isEmpty) ""
      else s""","bloomAdd":${arr(c.bloomAdd)}"""
    val cd = if (c.cdcAdd.isEmpty) ""
      else s""","cdcAdd":${arr(c.cdcAdd)}"""
    // per-writer nonce: the object-store arbiter adjudicates an ambiguous
    // put by byte-equality read-back, which is only sound if commit JSON
    // is writer-unique. Data commits are (UUID-named add files), but
    // metadata-only commits (setProperties, empty deferred deletes) could
    // collide byte-for-byte when two writers race the same version with
    // identical op/props in the same millisecond (`ts` is ms-resolution)
    // — both would then adjudicate themselves winners. The nonce makes
    // EVERY commit writer-unique; readers ignore the field.
    val nonce = java.util.UUID.randomUUID().toString
    s"""{"version":${c.version},"ts":${c.ts},"nonce":${Fmt.jsonString(nonce)},""" +
      s""""op":${Fmt.jsonString(c.op)},""" +
      s""""add":${arr(c.add)},"remove":${arr(c.remove)},""" +
      s""""schema":${Fmt.jsonString(c.schemaJson)}$txn$st$dv$pr$lin$bl$cd}"""
  }

  private def parseStats(node: com.fasterxml.jackson.databind.JsonNode): FileStats =
    if (node == null) Map.empty
    else node.properties().asScala.map { e =>
      e.getKey -> e.getValue.properties().asScala.map { ce =>
        ce.getKey -> (ce.getValue.get(0).asText(), ce.getValue.get(1).asText())
      }.toMap
    }.toMap

  private def parseCommit(p: Path): Commit = {
    // the arbiter's no-hardlink fallback claims a slot with an EMPTY
    // createFile and fills it with a move a moment later — a reader in
    // that window (or after a claimer crashed between the two calls)
    // sees zero bytes or a torn prefix. Retry briefly to ride out the
    // window; if the slot never fills, fail NAMING it (a permanently
    // torn slot needs the operator, not an NPE from a missing field).
    var n: com.fasterxml.jackson.databind.JsonNode = null
    var tries = 0
    while (n == null && tries <= 20) {
      val bytes = Files.readAllBytes(p)
      val t =
        if (bytes.isEmpty) null
        else scala.util.Try(mapper.readTree(bytes)).getOrElse(null)
      if (t != null && t.has("version")) n = t
      else { tries += 1; if (tries <= 20) Thread.sleep(25) }
    }
    if (n == null)
      throw new IllegalStateException(
        s"commit slot $p is empty or torn after ${tries * 25} ms — a " +
          "claimer likely died between claiming the slot and publishing " +
          "its content; remove the file to drop the claim (no data was " +
          "committed under it)")
    def strs(field: String): Seq[String] =
      Option(n.get(field)).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Nil)
    Commit(n.get("version").asLong(), n.get("ts").asLong(),
      n.get("op").asText(), strs("add"), strs("remove"),
      n.get("schema").asText(),
      txnApp = Option(n.get("txnApp")).map(_.asText()),
      txnId = Option(n.get("txnId")).map(_.asLong()),
      stats = parseStats(n.get("stats")),
      dvAdd = strs("dvAdd"), dvRemove = strs("dvRemove"),
      propsSet = Option(n.get("propsSet")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      propsUnset = strs("propsUnset"),
      schemaLineage = strs("schemaLineage"),
      bloomAdd = strs("bloomAdd"),
      cdcAdd = strs("cdcAdd"))
  }

  /** The committed version carrying transaction (`txnApp`, `txnId`), if
    * any — the idempotent-write bookkeeping (Delta's txnAppId/txnVersion):
    * a replayed writer finds its own earlier commit here and skips. */
  def txnCommit(table: String, txnApp: String, txnId: Long): Option[Commit] =
    // DESCENDING: a replayed transaction is almost always among the
    // newest commits (a crashed micro-batch retries immediately), so
    // the found case is O(recent); the not-found case stays a full log
    // scan — the price of exactness without a txn high-water checkpoint
    versions(table).reverseIterator
      .map(v => parseCommit(versionFile(table, v)))
      .find(c => c.txnApp.contains(txnApp) && c.txnId.contains(txnId))

  /** All committed version numbers, ascending. */
  private def versions(table: String): Seq[Long] = {
    val dir = logPath(table)
    if (!Files.exists(dir)) return Nil
    val l = Files.list(dir)
    try l.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.contains(".tmp"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
      .toSeq.sorted
    finally l.close()
  }

  def latestVersion(table: String): Option[Long] = versions(table).lastOption

  /** The slot-claim arbiter — how "first writer wins a version slot" is
    * decided. Default is the POSIX hard-link/move arbiter (correct on
    * local disk and link-faithful NFS); object-store deployments MUST
    * install an external-arbitration implementation first — see
    * [[CommitArbiter]] for the full filesystem contract. */
  @volatile private var arbiter: CommitArbiter = CommitArbiter.PosixLink
  def commitArbiter: CommitArbiter = arbiter
  def commitArbiter_=(a: CommitArbiter): Unit = {
    // ConditionalPut is the contract MODEL (in-memory registry, never
    // shrinks, keys by absolute path — recreating a table at a reused
    // path in this JVM permanently loses its v0 slot). It exists for
    // CommitArbiterContractSpec; installing it process-wide is almost
    // certainly a mistake, so say so loudly instead of silently losing
    // commits later.
    if (a eq CommitArbiter.ConditionalPut)
      log.warn("CommitArbiter.ConditionalPut installed as the process " +
        "commit arbiter — it is a single-process contract model (test " +
        "harness), not a deployable backend: its claim registry never " +
        "shrinks and a table recreated at a previously used path loses " +
        "its v0 slot. Use PosixLink on POSIX mounts, or a real " +
        "conditional-put arbiter for object stores.")
    arbiter = a
  }

  /** Atomic publish of version `v` via [[commitArbiter]]. Returns false
    * when the slot was already claimed by another writer. */
  private def tryPublish(table: String, v: Long, json: String): Boolean = {
    val dir = logPath(table)
    Files.createDirectories(dir)
    commitArbiter.tryClaim(dir, versionFile(table, v), json)
  }

  // ------------------------------------------------------------- snapshots

  /** Replayed table state at a version: live files, current schema, and
    * the distinct schema lineage (last = current; >1 ⇒ the live files may
    * span schema versions and reads need `mergeSchema`). */
  private final case class TableState(files: Seq[String],
      schemas: Seq[String], fileStats: FileStats,
      dv: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      blooms: Seq[String] = Nil) {
    def schemaJson: String = schemas.lastOption.getOrElse("")
    def mixedSchemas: Boolean = schemas.size > 1
  }

  /** State at version `v`, replayed from the nearest checkpoint at or
    * below `v` — O(CheckpointEvery) commits read, not O(v). */
  private def stateAt(table: String, v: Long): TableState = {
    val ckDir = logPath(table)
    val ck: Option[Long] =
      if (!Files.exists(ckDir)) None
      else {
        val l = Files.list(ckDir)
        try l.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".checkpoint"))
          .flatMap(n =>
            scala.util.Try(n.stripSuffix(".checkpoint").toLong).toOption)
          .filter(_ <= v).maxOption
        finally l.close()
      }
    val files = scala.collection.mutable.LinkedHashSet.empty[String]
    val schemas = scala.collection.mutable.LinkedHashSet.empty[String]
    val dv = scala.collection.mutable.LinkedHashSet.empty[String]
    val blooms = scala.collection.mutable.LinkedHashSet.empty[String]
    var stats: FileStats = Map.empty
    var props = Map.empty[String, String]
    ck.foreach { c =>
      val n = mapper.readTree(Files.readAllBytes(checkpointFile(table, c)))
      files ++= n.get("files").elements().asScala.map(_.asText())
      schemas ++= n.get("schemas").elements().asScala.map(_.asText())
      Option(n.get("dv")).foreach(d =>
        dv ++= d.elements().asScala.map(_.asText()))
      Option(n.get("blooms")).foreach(b =>
        blooms ++= b.elements().asScala.map(_.asText()))
      stats = stats ++ parseStats(n.get("stats"))
      Option(n.get("props")).foreach(pn =>
        props = props ++ pn.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()))
    }
    versions(table).filter(x => x > ck.getOrElse(-1L) && x <= v).foreach { x =>
      val c = parseCommit(versionFile(table, x))
      files --= c.remove
      stats = stats -- c.remove
      files ++= c.add
      stats = stats ++ c.stats
      dv --= c.dvRemove
      dv ++= c.dvAdd
      // bloom sidecars are keyed by data-file name inside: entries whose
      // file died are simply never consulted, so the list only needs a
      // RESET when a commit replaces the whole live set (overwrite /
      // compact / restore) — mirroring the schema-lineage reset below
      if (c.add.nonEmpty && files.forall(c.add.toSet.contains))
        blooms.clear()
      blooms ++= c.bloomAdd
      props = props -- c.propsUnset ++ c.propsSet
      if (c.schemaLineage.nonEmpty) {
        // RESTORE: the commit carries the target state's FULL lineage —
        // its re-added files may span schema versions, so the
        // single-schema reset below (meant for overwrite/compact, whose
        // fresh files are homogeneous) would collapse the lineage to one
        // entry, silently dropping columns that live only in older files
        // from mergeSchema reads and from type enforcement.
        schemas.clear()
        schemas ++= c.schemaLineage
      } else if (c.schemaJson.nonEmpty) {
        // the lineage tracks schemas of LIVE files: when this commit's
        // adds are the entire live set (overwrite, full compaction,
        // delete-all), every older schema's files are gone — RESET the
        // lineage instead of accumulating forever. Without this,
        // (a) overwrite(overwriteSchema = true) can never truly re-type
        // a dead column (the stale entry keeps poisoning enforcement)
        // and (b) mixedSchemas stays true after a compaction unified
        // the files, taxing every read with footer-merge for nothing.
        val addSet = c.add.toSet
        if (files.forall(addSet.contains)) schemas.clear()
        schemas -= c.schemaJson // move-to-end: last element = current
        schemas += c.schemaJson
      }
    }
    TableState(files.toSeq, schemas.toSeq,
      stats.view.filterKeys(files.contains).toMap, dv.toSeq, props,
      blooms.toSeq)
  }

  private def maybeCheckpoint(table: String, v: Long): Unit =
    if (v > 0 && v % CheckpointEvery == 0) {
      val st = stateAt(table, v)
      def arr(xs: Seq[String]) = xs.map(Fmt.jsonString).mkString("[", ",", "]")
      val propsJson = st.props.map { case (k, pv) =>
        s"${Fmt.jsonString(k)}:${Fmt.jsonString(pv)}"
      }.mkString("{", ",", "}")
      val json =
        s"""{"version":$v,"files":${arr(st.files)},"schemas":${arr(st.schemas)},""" +
          s""""dv":${arr(st.dv)},"blooms":${arr(st.blooms)},"props":$propsJson,""" +
          s""""stats":${statsJson(st.fileStats)}}"""
      val tmp = logPath(table).resolve(s".tmp-${UUID.randomUUID()}.ck.tmp")
      Files.writeString(tmp, json)
      // checkpoints are derived data — last writer wins is fine; the
      // move must still be ATOMIC (like every other publish here) so a
      // concurrent reader never sees a half-copied checkpoint on a
      // filesystem where plain move degrades to copy+delete
      try Files.move(tmp, checkpointFile(table, v),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, checkpointFile(table, v),
            StandardCopyOption.REPLACE_EXISTING)
      }
    }

  /** Read the table as of `version` (default: latest). An empty table (or
    * a version whose file set is empty) comes back as an empty frame with
    * the schema recorded in the log — not an error. Schema evolution:
    * when the live files span schema versions (tracked in the log, not
    * probed from footers), the read unions columns via `mergeSchema` —
    * tables with a single schema lineage skip that footer-merge cost. */
  def snapshot(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(table)).getOrElse(
      throw new IllegalArgumentException(s"no commits at $table"))
    require(versions(table).contains(v), s"version $v not in log at $table")
    val st = stateAt(table, v)
    readState(spark, table, st, st.files)
  }

  /** Read `files` of state `st`, minus any rows the state's deletion
    * vectors retire. The scan is planned over a [[GraftFileIndex]], so
    * every pushed-down data filter prunes files against the log's per-file
    * min/max stats at PLANNING time (Delta's stats-based skipping) — no
    * caller cooperation needed; [[snapshotWhere]] remains as the explicit
    * API but plain `snapshot(...).filter(...)` now skips identically.
    *
    * The scan schema is the UNION of the live files' schema lineage
    * (tracked in the log, not probed from footers) — mixed-schema
    * snapshots skip the per-file footer `mergeSchema` pass entirely, and
    * files predating a column read it back as null, exactly as before.
    *
    * With no DVs this is a plain parquet scan (no metadata columns, no
    * join); with DVs the scan carries the parquet `_metadata`
    * file/row-position columns and LEFT-ANTI joins the (small, broadcast)
    * DV entry set — pushdown and pruning on the scan are unaffected. */
  /** The state's recorded schema — empty struct for a table whose log
    * holds only metadata commits so far (e.g. `setProperties` enabling
    * CDF before the first data write): parsing the empty schemaJson
    * would throw a raw Jackson error. */
  private def stateSchema(st: TableState): StructType =
    if (st.schemaJson.isEmpty) StructType(Nil)
    else DataType.fromJson(st.schemaJson).asInstanceOf[StructType]

  private def readState(spark: SparkSession, table: String,
      st: TableState, files: Seq[String]): DataFrame = {
    if (files.isEmpty) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], stateSchema(st))
    }
    val dataSchema = unionSchema(st.schemas)
    // bloom sidecars load lazily, only when a scan actually pushes an
    // equality/IN probe down to listFiles — a full-scan read never pays
    val bloomFn: (String, String) =>
        Option[org.apache.spark.util.sketch.BloomFilter] =
      if (st.blooms.isEmpty) (_, _) => None
      else {
        lazy val loaded = loadBlooms(table, st.blooms)
        (f, c) => loaded.get((f, c))
      }
    val fi = new GraftFileIndex(table, files, st.fileStats, dataSchema,
      spark.conf.get("spark.sql.session.timeZone"), bloomFn)
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      fi, StructType(Nil), dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat, Map.empty[String, String])(spark)
    val base = spark.baseRelationToDataFrame(rel)
    if (st.dv.isEmpty) base
    else dvJoin(base, dvEntries(spark, table, st.dv), "left_anti")
  }

  /** Union of a schema lineage (oldest → newest): first-seen field order
    * and spelling, later lineage entries append their new columns. Names
    * unify CASE-INSENSITIVELY — the same resolution [[enforceAppendSchema]]
    * applies, so a case-variant re-spelling is one column, not two (two
    * same-insensitive fields in one scan schema would be an ambiguity
    * error). Same-name same-type is guaranteed by write-time enforcement —
    * a clash would have thrown at the write. Nullability: a column absent
    * from ANY lineage entry must read as nullable (files predating it
    * return null), and the vectorized parquet reader refuses to fabricate
    * nulls for a required column — so absence from any entry forces
    * `nullable = true`; columns in every entry keep the OR of their
    * recorded nullabilities. */
  private def unionSchema(schemas: Seq[String]): StructType = {
    val parsed =
      schemas.map(s => DataType.fromJson(s).asInstanceOf[StructType])
    if (parsed.sizeIs == 1) return parsed.head
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, (StructField, Int, Boolean)] // lc → (first, count, anyNullable)
    parsed.foreach(_.fields.foreach { f =>
      val k = f.name.toLowerCase
      seen.updateWith(k) {
        case Some((first, n, nul)) => Some((first, n + 1, nul || f.nullable))
        case None => Some((f, 1, f.nullable))
      }
    })
    StructType(seen.values.map { case (f, n, nul) =>
      f.copy(nullable = nul || n < parsed.size)
    }.toSeq)
  }

  /** The distinct (file, row position) pairs retired by `dvFiles`; the
    * empty file list yields the empty entry set (no parquet read). */
  private def dvEntries(spark: SparkSession, table: String,
      dvFiles: Seq[String]): DataFrame =
    if (dvFiles.isEmpty)
      spark.range(0).select(lit("").as("__dv_fn"), lit(0L).as("__dv_ri"))
    else spark.read.parquet(dvFiles.map(f => Paths.get(table, f).toString): _*)
      .select(col("file_name").as("__dv_fn"),
        col("row_index").as("__dv_ri"))
      .distinct()

  /** `base` with the parquet file-name / row-position metadata columns
    * attached — the DV join key. */
  private def withFilePos(base: DataFrame): DataFrame = base
    .withColumn("__fn",
      element_at(split(col("_metadata.file_path"), "/"), -1))
    .withColumn("__ri", col("_metadata.row_index"))

  /** `base` anti- (survivors) or semi- (victims) joined against a DV
    * entry set on (file, row position); the entry side is kilobytes, so
    * always broadcast. THE one definition of the position-matching logic
    * for every DV-subtract site (snapshot read, deferred delete, change
    * feed) — it must not drift between them. `keepPos` retains the
    * `__fn`/`__ri` columns for callers that need the positions after the
    * join (the deferred delete writes them to the sidecar). */
  private def dvJoin(base: DataFrame, entries: DataFrame,
      joinType: String, keepPos: Boolean = false): DataFrame = {
    val cols = base.columns.toSeq
    val joined = withFilePos(base).join(broadcast(entries),
      col("__fn") === col("__dv_fn") && col("__ri") === col("__dv_ri"),
      joinType)
    if (keepPos) joined.select((cols ++ Seq("__fn", "__ri")).map(col): _*)
    else joined.select(cols.map(col): _*)
  }

  // ------------------------------------------- streaming-source hooks
  // (package-private surface for [[VersionedStreamSource]] — the v1
  // Structured Streaming source tailing this log)

  /** Commits with `fromExclusive < version <= toInclusive`, in order. */
  private[io] def commitsIn(table: String, fromExclusive: Long,
      toInclusive: Long): Seq[Commit] =
    versions(table).filter(v => v > fromExclusive && v <= toInclusive)
      .map(v => parseCommit(versionFile(table, v)))

  /** The pieces of the state at `v` a streaming source's initial
    * snapshot batch needs: live files, their manifest stats, the
    * union scan schema, and the active DV sidecars. */
  private[io] def snapshotParts(table: String, v: Long)
      : (Seq[String], FileStats, StructType, Seq[String]) = {
    val st = stateAt(table, v)
    (st.files, st.fileStats, unionSchema(st.schemas), st.dv)
  }

  /** [[readState]]'s streaming twin: scan `files` through a
    * [[GraftFileIndex]] (manifest stats still prune pushed-down filters
    * per micro-batch) but surface the relation with `isStreaming = true`
    * so `MicroBatchExecution` accepts it, minus any rows `dvFiles`
    * retire (a stream–batch broadcast anti-join — supported shape). The
    * schema is the SOURCE'S frozen schema, not the state's: every batch
    * of one streaming query must agree column-for-column, so files
    * predating a column read nulls and later-added columns are ignored
    * until the query restarts against the evolved schema. */
  private[io] def streamingScan(spark: SparkSession, table: String,
      files: Seq[String], fileStats: FileStats, schema: StructType,
      dvFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftStreamingShim
    if (files.isEmpty) return GraftStreamingShim.emptyStreaming(spark, schema)
    // a stream resumed past the vacuum retention window must fail with
    // the RETENTION story at planning time, not a raw executor
    // FileNotFoundException mid-batch (same contract as tableChanges)
    files.filterNot(f => Files.exists(Paths.get(table, f)))
      .headOption.foreach(f => throw new IllegalStateException(
        s"streaming batch file $f of $table was vacuumed — the " +
          "checkpoint is beyond the retention window; restart the " +
          "stream from a fresh checkpoint to reprocess"))
    val fi = new GraftFileIndex(table, files, fileStats, schema,
      spark.conf.get("spark.sql.session.timeZone"))
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      fi, StructType(Nil), schema, None,
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat, Map.empty[String, String])(spark)
    val base = GraftStreamingShim.streamingRelation(spark, rel)
    if (dvFiles.isEmpty) base
    else dvJoin(base, dvEntries(spark, table, dvFiles), "left_anti")
  }

  // --------------------------------------- change data feed (write-time)
  // Delta's `_change_data` design (concept reference:
  // delta.enableChangeDataFeed; the reference repo consumes it through
  // `readChangeFeed`, /root/reference/src/utils/spark_utils.py:285-344
  // context): when the table property below is set, every data-CHANGING
  // write captures its row-level envelopes (update_preimage /
  // update_postimage / delete / insert) into parquet sidecars named by
  // the commit (`cdcAdd`). Readers then serve changes by SCANNING those
  // sidecars — O(changed rows), no key joins, no keys needed — where the
  // manifest-diff [[changeFeed]] must recompute the diff per read.
  // Appends carry no sidecar: their adds ARE the insert envelopes, which
  // readers synthesize for free. Capture costs one extra pass over the
  // touched sliver at write time, paid once, amortized over every
  // downstream consumer — the right trade for a 100 TB table feeding
  // many incremental readers.

  /** Table property enabling write-time change capture (set it via
    * [[setProperties]] BEFORE the writes whose changes you need). */
  val CdfProp = "graft.changeDataFeed"

  private def cdfEnabled(props: Map[String, String]): Boolean =
    props.get(CdfProp).exists(_.trim.equalsIgnoreCase("true"))

  /** Write `envelope` (data columns + `_change_type`) as this commit's
    * change-data sidecar files. `hint` keeps the sidecar file count
    * proportional to the files the write touched, not to
    * shuffle.partitions. */
  private def writeCdc(envelope: DataFrame, table: String,
      hint: Int): Seq[String] =
    writeDataFiles(envelope.coalesce(math.max(1, hint)), table, tag = "cdc")

  /** How a change reader serves commit `c`: `None` — nothing to serve
    * (metadata-only, no-op, or an `optimize` rewrite that moved rows
    * without changing them); `Some((files, synthesizeInserts))` — scan
    * these parquet files, adding `_change_type = 'insert'` when they are
    * plain data files of a blind append (sidecar-less adds), as-is when
    * they are change-data sidecars already carrying the column. Throws
    * for a data-changing commit with no sidecar: its removes cannot be
    * reconstructed after the fact (enable [[CdfProp]] before the write,
    * or fall back to the key-based [[changeFeed]]). RESTORE always
    * throws — its adds are files a tailing reader already served, so
    * re-serving them as inserts would double-count. */
  private[io] def changeFilesOf(table: String,
      c: Commit): Option[(Seq[String], Boolean)] = {
    val pureAdd = c.remove.isEmpty && c.dvAdd.isEmpty && c.dvRemove.isEmpty
    if (c.cdcAdd.nonEmpty) Some((c.cdcAdd, false))
    else if (c.op == "optimize") None
    else if (c.add.isEmpty && pureAdd) None // metadata / no-op commit
    else if (pureAdd && c.op != "restore") Some((c.add, true))
    else throw new IllegalStateException(
      s"version ${c.version} of $table ('${c.op}') changed existing " +
        s"rows without a change-data sidecar — set table property " +
        s"$CdfProp=true before such writes, or use the key-based " +
        "changeFeed")
  }

  /** Change feed served from WRITE-TIME sidecars (Delta's
    * `table_changes`): every row-level change committed in versions
    * `(fromVersion, toVersion]`, as `_change_type`-tagged envelopes with
    * `_commit_version` / `_commit_timestamp` attribution — no keys
    * needed, unlike the manifest-diff [[changeFeed]]. Appends stream
    * their add files as inserts directly; MERGE / DELETE / CDC-apply
    * commits must have been written with [[CdfProp]] set (throws
    * otherwise, naming the offending version). Cost: a scan of O(changed
    * rows) — the sidecars and the appended files — never the table.
    *
    * Semantics vs [[changeFeed]]: this is the per-commit HISTORY — a
    * key updated in three commits of the range yields three
    * pre/post-image pairs, and an insert-then-delete yields both
    * envelopes. [[changeFeed]] is the NET state diff between the two
    * versions (the same key yields one pair; insert-then-delete yields
    * nothing). Retraction folds
    * ([[graft.ops.IncrementalAgg.applyChangeFeed]]) converge identically
    * on either (the algebra is associative); key-compacted consumers
    * ([[applyChanges]], [[ChangeConsumer]] mirrors) need the NET form —
    * feed them [[changeFeed]], or reduce this history to last-op-per-key
    * first. */
  def tableChanges(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val vs = versions(table)
    require(vs.nonEmpty, s"no versioned table at $table")
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    require(vs.contains(toVersion), s"version $toVersion not in log")
    val schema = unionSchema(stateAt(table, toVersion).schemas)
    val metas = Seq("_change_type", "_commit_version", "_commit_timestamp")
    val parts = commitsIn(table, fromVersion, toVersion).flatMap { c =>
      changeFilesOf(table, c).collect {
        case (files, synth) if files.nonEmpty =>
          // fail with the RETENTION story, not a scan-time
          // file-not-found: sidecars (and retired append files) age out
          // with vacuum, and a reader stalled past the window must
          // restart from a fresh snapshot — Delta's contract too
          files.filterNot(f => Files.exists(Paths.get(table, f)))
            .headOption.foreach(f => throw new IllegalStateException(
              s"change file $f of $table version ${c.version} was " +
                "vacuumed — the requested range is beyond the retention " +
                "window; reprocess from a current snapshot"))
          val base = spark.read.option("mergeSchema", "true")
            .parquet(files.map(f => Paths.get(table, f).toString): _*)
          (if (synth) base.withColumn("_change_type", lit("insert"))
          else base)
            .withColumn("_commit_version", lit(c.version))
            .withColumn("_commit_timestamp", timestamp_millis(lit(c.ts)))
      }
    }
    val u = parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        val full = StructType(schema.fields ++ Seq(
          StructField("_change_type", org.apache.spark.sql.types.StringType),
          StructField("_commit_version", org.apache.spark.sql.types.LongType),
          StructField("_commit_timestamp",
            org.apache.spark.sql.types.TimestampType)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full)
      }
    // conform to the to-version schema: sidecars from before a column
    // evolution null-fill it, like any schema-evolved history read
    u.select((schema.fields.map(f =>
      (if (u.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType)).as(f.name)).toSeq ++
      metas.map(col)): _*)
  }

  private def requireNoDv(st: TableState, op: String, table: String): Unit =
    if (st.dv.nonEmpty)
      throw new IllegalStateException(
        s"$op on $table requires materialized deletes, but " +
          s"${st.dv.size} deletion-vector file(s) are active — run " +
          "compact() first (it applies and clears the DVs)")

  /** Row-level DELETE as a deletion-vector commit: the matching rows'
    * (file, row position) pairs are written to a small DV sidecar and
    * recorded in the log; NO data file is read back or rewritten. Reads
    * ([[snapshot]]/[[snapshotWhere]]/[[changeFeed]]) subtract DV rows;
    * [[compact]] materializes and clears them. This is the Delta
    * deletion-vector shape: on a 100 TB table a selective delete costs
    * one predicate scan plus kilobytes of sidecar — [[deleteWhere]]'s
    * file rewrite, megabytes-cheap as it is, still rewrites every file
    * that contains one matching row.
    *
    * Trade-offs (same as Delta's): reads pay a (broadcast) anti-join
    * while DVs are active, and rewriting ops (MERGE / rewrite-DELETE /
    * applyChanges) refuse to run over active DVs — materialize with
    * [[compact]] first. Optimistic, [[Isolation.WriteSerializable]] by
    * default: interleaved blind appends rebase (the sidecar targets only
    * files that existed at the read version); any other interleaved
    * writer raises [[ConcurrentWriteException]]. */
  def deleteWhereDeferred(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column,
      isolation: Isolation = Isolation.WriteSerializable): Commit = {
    val rv = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no table at $table"))
    val st = stateAt(table, rv)
    if (st.files.isEmpty)
      return commitLoop(table, "delete_dv", Nil, _ => Nil, st.schemaJson,
        readVersion = Some(rv),
        rebaseOverAdds = isolation == Isolation.WriteSerializable)
    val r = if (st.mixedSchemas)
      spark.read.option("mergeSchema", "true")
    else spark.read
    val base = r.parquet(st.files.map(f => Paths.get(table, f).toString): _*)
    // apply EXISTING DVs first so an already-deleted row can't be
    // re-deleted (keeps per-(file,row) entries unique within one state's
    // sidecar set — the invariant one snapshot's anti-join relies on)
    val live =
      if (st.dv.isEmpty) withFilePos(base)
      else dvJoin(base, dvEntries(spark, table, st.dv), "left_anti",
        keepPos = true)
    // with CDF on, the matched sliver feeds TWO writes (the DV sidecar
    // and the delete envelopes) — persist it so the second write reads
    // the cached sliver instead of re-running the whole predicate scan
    // + DV anti-join over every live file (r18 opt; without CDF there
    // is exactly one action, so the persist would be pure overhead)
    val matchedRows = if (cdfEnabled(st.props)) live.filter(cond).persist()
      else live.filter(cond)
    try {
      val hits = matchedRows
        .select(col("__fn").as("file_name"), col("__ri").as("row_index"))
      // ONE predicate scan: write the candidate sidecar straight out, then
      // check the written (kilobyte) file's row count — an isEmpty pre-check
      // would recompute the whole scan + anti-join a second time for the
      // write. A zero-match delete removes the orphan sidecar and commits
      // a no-op (the commit still serializes against concurrent writers).
      val dvFiles = writeDataFiles(hits.coalesce(1), table, tag = "dv")
      val matched = spark.read
        .parquet(dvFiles.map(f => Paths.get(table, f).toString): _*).count()
      if (matched == 0L) {
        dvFiles.foreach(f => Files.deleteIfExists(Paths.get(table, f)))
        return commitLoop(table, "delete_dv", Nil, _ => Nil, st.schemaJson,
          readVersion = Some(rv),
          rebaseOverAdds = isolation == Isolation.WriteSerializable)
      }
      // change capture (CDF): the rows the new DV entries retire — read
      // from the persisted sliver, paid only when enabled.
      // The coalesce hint is the TABLE's file count, not 1: a wide delete
      // on a big table must not funnel every envelope through one write
      // task (coalesce above the actual partition count is a no-op, so
      // small deletes still land in few sidecar files).
      val cdc =
        if (!cdfEnabled(st.props)) Nil
        else writeCdc(matchedRows.drop("__fn", "__ri")
          .withColumn("_change_type", lit("delete")), table,
          math.max(1, st.files.size))
      commitLoop(table, "delete_dv", Nil, _ => Nil, st.schemaJson,
        readVersion = Some(rv), dvAdd = dvFiles,
        rebaseOverAdds = isolation == Isolation.WriteSerializable,
        cdcAdd = cdc)
    } finally matchedRows.unpersist(blocking = false)
  }

  /** Manifest-level data skipping (Delta's stats-based pruning): read the
    * snapshot restricted to `lo <= column <= hi` (either bound optional),
    * consulting the per-file min/max recorded at write time — files whose
    * range cannot intersect are never handed to Spark, so the scan's task
    * count tracks the SELECTED data, not the table. On a 100 TB table
    * clustered on the filter column ([[compact]] with `clusterBy`), a
    * narrow range touches a handful of files; the driver does string/
    * decimal compares over the manifest, zero I/O. Files without stats
    * for the column (older commits, all-null files) are kept —
    * conservative, never wrong. The residual filter is still applied, so
    * results are exact regardless of stats quality. */
  /** Files of `st` whose recorded [min,max] for `column` may intersect
    * [lo,hi] (either bound optional); files without stats are kept —
    * conservative, never wrong. Numeric columns compare as exact
    * decimals (a double round-trip could mis-prune a boundary file);
    * everything else lexically — correct for strings and for Spark's
    * sortable date/timestamp casts. */
  private def filesInRange(st: TableState, schema: StructType,
      column: String, lo: Option[Any], hi: Option[Any],
      zoneId: String): Seq[String] = {
    // type from the UNION of the schema lineage, not just the latest
    // commit's: a subset-schema append can move-to-end a schema missing
    // this column, and falling back to lexical compare on a numeric
    // column would mis-prune ("10" < "2")
    val colType = unionSchema(st.schemas).find(_.name == column)
      .orElse(schema.find(_.name == column)).map(_.dataType)
    val numeric =
      colType.exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val isTs =
      colType.contains(org.apache.spark.sql.types.TimestampType)
    // bounds must render EXACTLY as the stats writer rendered values.
    // TIMESTAMP bounds become zone-independent UTC micros (the canonical
    // stats form — a session-zone CAST rendering would mis-prune when
    // reader and writer zones differ); everything else is
    // CAST(v AS STRING), whose remaining renderings never consult the
    // zone. JVM toString would disagree for timestamps/Instants and
    // silently mis-prune. Same discipline as GraftFileIndex.
    def render(v: Any): Option[String] = scala.util.Try {
      val l = org.apache.spark.sql.catalyst.expressions.Literal(v)
      if (l.dataType == org.apache.spark.sql.types.TimestampType)
        (l.dataType, Option(l.value).map(_.asInstanceOf[Long].toString))
      else {
        val s = org.apache.spark.sql.catalyst.expressions
          .Cast(l, StringType, Some(zoneId))
          .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        (l.dataType, Option(s).map(_.toString))
      }
    }.toOption.flatMap {
      // signed-year date renderings ('+10000-…', '-0044-…') break
      // lexical order — such a bound must not prune anything (timestamp
      // micros compare numerically, so they are exempt)
      case (dt, Some(s))
        if (dt == org.apache.spark.sql.types.DateType ||
          dt == org.apache.spark.sql.types.TimestampNTZType) &&
          (s.startsWith("+") || s.startsWith("-")) => None
      case (_, so) => so
    }
    val loR = lo.map(render)
    val hiR = hi.map(render)
    // an unrenderable bound cannot prune faithfully: keep everything
    if (loR.exists(_.isEmpty) || hiR.exists(_.isEmpty)) return st.files
    val loS = loR.flatten
    val hiS = hiR.flatten
    // string compare MUST be UTF-8 byte order — the order Spark's
    // min/max used when the stats were written (UTF-16 compareTo
    // disagrees around the surrogate range and would mis-prune)
    def cmp(a: String, b: String): Int =
      if (numeric || isTs)
        new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
      else org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    // legacy timestamp stats (pre-micros session-zone renderings) keep
    // their file: their writer zone is unknown, comparing could mis-prune
    def usable(v: String): Boolean =
      !isTs || GraftFileIndex.MicrosRe.matches(v)
    st.files.filter { f =>
      st.fileStats.get(f).flatMap(_.get(column)) match {
        case Some((fMin, fMax)) if usable(fMin) && usable(fMax) =>
          // unparseable stats (double Infinity/NaN renderings) keep the
          // file rather than failing the read
          scala.util.Try(
            hiS.forall(h => cmp(fMin, h) <= 0) &&
              loS.forall(l => cmp(fMax, l) >= 0)).getOrElse(true)
        case _ => true // no/legacy stats: cannot exclude
      }
    }
  }

  def snapshotWhere(spark: SparkSession, table: String, column: String,
      lo: Option[Any] = None, hi: Option[Any] = None,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(table)).getOrElse(
      throw new IllegalArgumentException(s"no commits at $table"))
    val st = stateAt(table, v)
    val schema = stateSchema(st)
    val keep = filesInRange(st, schema, column, lo, hi,
      spark.conf.get("spark.sql.session.timeZone"))
    val base = readState(spark, table, st, keep)
    val c = col(column)
    (lo, hi) match {
      case (Some(l), Some(h)) => base.filter(c >= lit(l) && c <= lit(h))
      case (Some(l), None) => base.filter(c >= lit(l))
      case (None, Some(h)) => base.filter(c <= lit(h))
      case _ => base
    }
  }

  /** Time travel by timestamp: the newest version committed at or before
    * `tsMillis` (Delta's `timestampAsOf`). */
  def snapshotAsOf(spark: SparkSession, table: String,
      tsMillis: Long): DataFrame = {
    val v = versions(table)
      .map(x => parseCommit(versionFile(table, x)))
      .filter(_.ts <= tsMillis).map(_.version).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"no version at or before $tsMillis in $table"))
    snapshot(spark, table, Some(v))
  }

  // -------------------------------------------- table metadata/constraints

  /** Table properties at `version` (default latest) — Delta's
    * TBLPROPERTIES channel, replayed from the log like the file set. */
  def properties(table: String,
      version: Option[Long] = None): Map[String, String] =
    version.orElse(latestVersion(table))
      .map(v => stateAt(table, v).props).getOrElse(Map.empty)

  /** Set table properties as one commit (last writer wins per key —
    * property changes are not read-modify-write, so racers just
    * serialize through slot claims like appends). */
  def setProperties(table: String, props: Map[String, String]): Commit = {
    require(props.nonEmpty, "no properties to set")
    Files.createDirectories(logPath(table))
    commitLoop(table, "set_props", Nil, _ => Nil, schemaJson = "",
      readVersion = None, propsSet = props)
  }

  /** Remove table properties (missing keys are a no-op). */
  def unsetProperties(table: String, keys: Seq[String]): Commit = {
    require(keys.nonEmpty, "no properties to unset")
    commitLoop(table, "unset_props", Nil, _ => Nil, schemaJson = "",
      readVersion = None, propsUnset = keys)
  }

  private val ConstraintPrefix = "constraint."

  /** A write was rejected because rows violate a CHECK constraint —
    * Delta's `ADD CONSTRAINT ... CHECK` write-time contract. */
  final class ConstraintViolationException(msg: String)
    extends IllegalArgumentException(msg)

  /** Active CHECK constraints (name → SQL expression) at the latest
    * version. */
  def checkConstraints(table: String): Map[String, String] =
    properties(table).collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** ALTER TABLE ADD CONSTRAINT name CHECK (expr): validates the CURRENT
    * snapshot satisfies `expr` (one scan — rows where the expression is
    * FALSE violate; NULL passes, the SQL CHECK convention), then records
    * it as a `constraint.<name>` property. Every subsequent
    * append/overwrite/merge/applyChanges validates its incoming rows and
    * throws [[ConstraintViolationException]] on the first offender.
    * Serializable: committed at the version whose data was validated, so
    * a concurrent write raises rather than sneaking unvalidated rows
    * under the new contract. RESTORE to a pre-constraint version can
    * resurrect violating rows (as in Delta) — re-validate after restores
    * if that matters. */
  def addCheckConstraint(spark: SparkSession, table: String, name: String,
      expression: String): Commit = {
    require(name.nonEmpty && !name.contains('.'), s"bad constraint name $name")
    val rv = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no table at $table"))
    val snap = snapshot(spark, table, Some(rv))
    val offending = snap.filter(!coalesce(expr(expression), lit(true)))
    if (!offending.isEmpty)
      throw new ConstraintViolationException(
        s"cannot add constraint $name to $table: existing rows violate " +
          s"($expression), e.g. " +
          offending.limit(1).collect().headOption.fold("")(_.toString))
    commitLoop(table, "add_constraint", Nil, _ => Nil, schemaJson = "",
      readVersion = Some(rv),
      propsSet = Map(ConstraintPrefix + name -> expression))
  }

  /** ALTER TABLE DROP CONSTRAINT. */
  def dropCheckConstraint(table: String, name: String): Commit =
    unsetProperties(table, Seq(ConstraintPrefix + name))

  /** Validate `df` against the table's CHECK constraints before a write
    * lands. Rows are checked against the TABLE'S column view: columns
    * the frame lacks (legal subset-schema append) read as null, so a
    * constraint on an absent column passes — exactly what the stored
    * rows will read back. One combined pass for the happy path; the
    * per-constraint re-check runs only after a violation was found. */
  private def enforceConstraints(table: String, df: DataFrame): Unit = {
    val cs = checkConstraints(table)
    if (cs.isEmpty) return
    val have = df.columns.map(_.toLowerCase).toSet
    val tableCols = currentSchemaMap(table).keySet
    val probe = tableCols.diff(have).foldLeft(df)(
      (d, c) => d.withColumn(c, lit(null)))
    def violated(e: String) = !coalesce(expr(e), lit(true))
    val bad = probe.filter(cs.values.map(violated).reduce(_ || _))
    if (!bad.isEmpty) {
      val row = bad.limit(1).cache()
      try {
        val broken = cs.filter { case (_, e) =>
          !row.filter(violated(e)).isEmpty }
        throw new ConstraintViolationException(
          s"write to $table violates CHECK constraint(s) " +
            broken.map { case (n, e) => s"$n ($e)" }.mkString(", ") +
            "; offending row: " +
            row.collect().headOption.fold("")(_.toString))
      } finally row.unpersist()
    }
  }

  /** Commit history as a DataFrame (Delta `DESCRIBE HISTORY`). */
  def history(spark: SparkSession, table: String): DataFrame = {
    val rows = versions(table).map { v =>
      val c = parseCommit(versionFile(table, v))
      Row(c.version, c.ts, c.op, c.add.size.toLong, c.remove.size.toLong)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("ts", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("n_added", LongType, nullable = false),
      StructField("n_removed", LongType, nullable = false))))
  }

  // ---------------------------------------------------------------- writes

  /** Materialize `df` as immutable data files inside the table dir (NOT yet
    * referenced by any commit — invisible until the commit that adds them;
    * a crash here leaves orphans that [[vacuum]] GCs). Returns the relative
    * file names. */
  private def writeDataFiles(df: DataFrame, table: String,
      tag: String = "part"): Seq[String] = {
    val id = UUID.randomUUID().toString.take(12)
    val tmp = Paths.get(table, s"_tmp-$id")
    df.write.mode("overwrite").parquet(tmp.toString)
    val l = Files.list(tmp)
    val parts =
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally l.close()
    val named = parts.zipWithIndex.map { case (p, i) =>
      val name = f"$id-$tag$i%04d.snappy.parquet"
      Files.move(tmp.resolve(p), Paths.get(table, name),
        StandardCopyOption.ATOMIC_MOVE)
      name
    }
    // remove the now-empty staging dir (plus Spark's _SUCCESS marker)
    val rest = Files.list(tmp)
    try rest.iterator().asScala.toSeq.foreach(Files.deleteIfExists(_))
    finally rest.close()
    Files.deleteIfExists(tmp)
    named
  }

  /** Same column names and types, nullability/metadata ignored — the
    * schema-compatibility bar for rebasing over a blind append. Raw JSON
    * equality is too strict: a parquet round-trip flips non-nullable
    * in-memory fields to nullable, and that difference conflicts with
    * nothing. */
  private def sameColumnShape(a: String, b: String): Boolean =
    a == b || scala.util.Try {
      def shape(j: String) = DataType.fromJson(j).asInstanceOf[StructType]
        .fields.map(f => (f.name, f.dataType.sql)).toSeq
      shape(a) == shape(b)
    }.getOrElse(false)

  private def commitLoop(table: String, op: String, add: Seq[String],
      removeAt: Long => Seq[String], schemaJson: String,
      readVersion: Option[Long], txn: Option[(String, Long)] = None,
      stats: FileStats = Map.empty,
      maxRetries: Int = 20,
      revalidate: () => Unit = () => (),
      dvAdd: Seq[String] = Nil,
      dvRemoveAt: Long => Seq[String] = _ => Nil,
      rebaseOverAdds: Boolean = false,
      propsSet: Map[String, String] = Map.empty,
      propsUnset: Seq[String] = Nil,
      schemaLineage: Seq[String] = Nil,
      bloomAdd: Seq[String] = Nil,
      cdcAdd: Seq[String] = Nil): Commit = {
    var attempt = 0
    while (attempt < maxRetries) {
      // idempotence FIRST: if this transaction already committed (an
      // earlier run, or a racer we just lost a slot to), return ITS
      // commit — the data files this attempt wrote stay orphaned for
      // vacuum to GC. Running validation before this check would let a
      // racer's schema change fail a replay whose transaction is in fact
      // already durable.
      txn.foreach { case (app, id) =>
        txnCommit(table, app, id).foreach(return _)
      }
      // pin the target slot BEFORE revalidating: any racer that commits
      // after this read lands in `next` or later, so our tryPublish
      // below loses the slot and the loop re-runs validation against the
      // racer's commit. (Revalidating before reading the slot leaves a
      // window where a racer's commit is neither validated against nor
      // collided with.)
      val next = latestVersion(table).map(_ + 1).getOrElse(0L)
      // re-run caller validation EVERY attempt: a writer that loses the
      // slot race re-derives against the log as it now stands, and a
      // racer may have changed what the pre-write check validated (two
      // first-writers with conflicting schemas both saw an empty table —
      // only the slot loser can catch the conflict, and only HERE). A
      // throw orphans this attempt's data files for vacuum, same as the
      // txn-dedup path.
      revalidate()
      // read-modify-write ops derived their add/remove/DV sets from the
      // state at readVersion, so a commit landed beyond it is a conflict
      // — UNLESS the op runs at WriteSerializable isolation and every
      // interleaved commit is a blind add-only append (no removes, no DV
      // changes, no schema change): an append cannot invalidate a
      // remove/DV set derived at readVersion, so the op REBASES over it
      // and commits on top (see [[Isolation.WriteSerializable]]).
      readVersion.foreach { rv =>
        if (next != rv + 1) {
          val blindAppends = rebaseOverAdds &&
            versions(table).filter(v => v > rv && v < next)
              .map(v => parseCommit(versionFile(table, v)))
              .forall(c => c.remove.isEmpty && c.dvAdd.isEmpty &&
                c.dvRemove.isEmpty &&
                // a property commit is a REAL conflict, not a blind
                // append: rebasing a MERGE/DELETE over an interleaved
                // addCheckConstraint would land its rows unvalidated
                // under the just-added contract
                c.propsSet.isEmpty && c.propsUnset.isEmpty &&
                // OUR schemaJson empty = this op records no schema
                // (partial compaction): any append's schema is then
                // compatible — comparing against "" would always fail
                // and spuriously conflict every rebase
                (c.schemaJson.isEmpty || schemaJson.isEmpty ||
                  sameColumnShape(c.schemaJson, schemaJson)))
          if (!blindAppends)
            throw new ConcurrentWriteException(
              s"$op read version $rv of $table but version ${next - 1} " +
                "was committed concurrently; re-read and retry")
        }
      }
      val c = Commit(next, System.currentTimeMillis(), op, add,
        removeAt(next), schemaJson,
        txnApp = txn.map(_._1), txnId = txn.map(_._2), stats = stats,
        dvAdd = dvAdd, dvRemove = dvRemoveAt(next),
        propsSet = propsSet, propsUnset = propsUnset,
        schemaLineage = schemaLineage, bloomAdd = bloomAdd,
        cdcAdd = cdcAdd)
      if (tryPublish(table, next, commitJson(c))) {
        // the commit is DURABLE once published — a failure writing the
        // derived checkpoint must not fail the caller (a retrying
        // non-txn writer would append its rows again); readers replay
        // the log without it, and the next commit retries
        try maybeCheckpoint(table, next)
        catch {
          case scala.util.control.NonFatal(e) =>
            log.warn(s"checkpoint write after $table v$next failed " +
              s"(commit is durable; log replay covers reads): $e")
        }
        return c
      }
      attempt += 1 // lost the slot race (append only) — re-derive and retry
    }
    throw new ConcurrentWriteException(
      s"could not claim a log slot for $op on $table after $maxRetries tries")
  }

  /** Reserved pseudo-column keys inside the per-file stats map: row and
    * per-column null counts ride the SAME map as min/max (stored as
    * `(n, n)` string pairs), so ONE codec / checkpoint / replay / merge
    * path serves all file statistics — the Delta stats triple
    * (minValues, maxValues, nullCount + numRecords) in a flat encoding.
    * Real column names never collide: an explicit request to index a
    * `__`-prefixed column is REJECTED ([[effectiveCols]]) and the stats
    * collectors skip such names outright ([[computeStats]]/
    * [[computeBlooms]]), so no data column can ever write under a
    * reserved key — a `__rows` data column simply is not skippable. */
  private[io] val RowsKey = "__rows"
  private[io] val BytesKey = "__bytes"
  private[io] def nullsKey(c: String) = s"__nulls_$c"

  /** On-disk size of each just-written file, recorded in the commit under
    * [[BytesKey]] — reads then build their FileStatus list from the
    * MANIFEST instead of stat-ing every file (N object-store HEAD
    * requests per snapshot at scale; Delta records `size` in add actions
    * for the same reason). Sizes are exact forever: data files are
    * immutable once committed. */
  private def withSizes(table: String, files: Seq[String],
      computed: FileStats): FileStats =
    files.map { f =>
      val sz = Files.size(Paths.get(table, f)).toString
      f -> (computed.getOrElse(f, Map.empty) + (BytesKey -> (sz, sz)))
    }.toMap

  /** Per-file min/max + null counts of `statsFor` columns (and the file
    * row count) over freshly written files — ONE narrow aggregate over
    * just-written data (file-local map-side combine, no shuffle of
    * consequence), keyed by `_metadata.file_path`. Values are stored as
    * strings; all-null columns yield no min/max entry but DO record
    * their null count, which is what lets the planner prune them for
    * null-rejecting predicates. */
  private[io] def computeStats(spark: SparkSession, table: String,
      files: Seq[String], statsFor: Seq[String]): FileStats = {
    if (statsFor.isEmpty || files.isEmpty) return Map.empty
    // FOOTER-FIRST: the parquet writer already computed per-chunk
    // min/max/null/row statistics — read them back (O(files) metadata,
    // no Spark job) instead of re-scanning every just-written byte. The
    // scan pass below survives as the fallback for column shapes whose
    // footer stats cannot render byte-identically (INT96/NTZ timestamps,
    // foreign physical encodings — see FooterStats) and, PER FILE, for
    // unreadable footers (one corrupt file must not re-scan the whole
    // commit). At 100 TB the scan pass DOUBLED a stats-tracked append's
    // I/O; the footer pass makes stats cost independent of data volume.
    FooterStats.tryCompute(table, files,
        statsFor.filterNot(_.startsWith("__"))) match {
      case Some((footer, scanCols, scanFiles)) =>
        if (scanCols.isEmpty && scanFiles.isEmpty) return footer
        // two narrow fallback scans: the routed-away COLUMNS over every
        // file, and every column over the footer-unreadable FILES (their
        // footer map carries nothing, so the scan supplies RowsKey too)
        val colScanFiles = files.filterNot(scanFiles.contains)
        val colScan =
          if (scanCols.isEmpty || colScanFiles.isEmpty) Map.empty: FileStats
          else scanStats(spark, table, colScanFiles, scanCols)
        val fileScan =
          if (scanFiles.isEmpty) Map.empty: FileStats
          else scanStats(spark, table, scanFiles, statsFor)
        // per-file union; overlapping sides carry an identical exact
        // RowsKey, so merge order cannot change any value
        return (footer.keySet ++ colScan.keySet ++ fileScan.keySet).map { f =>
          f -> (footer.getOrElse(f, Map.empty) ++
            colScan.getOrElse(f, Map.empty) ++
            fileScan.getOrElse(f, Map.empty))
        }.toMap
      case None => return scanStats(spark, table, files, statsFor)
    }
  }

  /** The scan-based stats pass (pre-r14 computeStats body): one Spark
    * aggregate over the just-written files. Fallback only — see
    * [[FooterStats]]. */
  private[io] def scanStats(spark: SparkSession, table: String,
      files: Seq[String], statsFor: Seq[String]): FileStats = {
    if (statsFor.isEmpty || files.isEmpty) return Map.empty
    val df = spark.read.parquet(files.map(f => Paths.get(table, f).toString): _*)
    // reserved `__` keys (row/null/byte counts) share the stats map with
    // real column names — a data column named like one of them would
    // store min/max under another column's count key and mis-prune;
    // writers simply never index such columns (enforced up-stack by
    // [[rejectReservedStatNames]] for explicit requests)
    val cols = statsFor.filter(df.columns.contains)
      .filterNot(_.startsWith("__"))
    if (cols.isEmpty) return Map.empty
    // TIMESTAMP stats are stored as zone-independent UTC micros, not as
    // CAST(ts AS STRING): the cast renders under the WRITER's session
    // timezone, and a reader in a different zone comparing its own
    // rendering against it would silently prune files that DO contain
    // matching rows. Micros order exactly as the timestamps do and both
    // sides of every later comparison are plain integers. (DateType and
    // TimestampNTZ renderings never consult the zone — they stay casts.)
    val isTs: Set[String] = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.TimestampType)
      .map(_.name).toSet
    def bound(c: String, agg: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      if (isTs(c)) unix_micros(agg).cast(StringType) else agg.cast(StringType)
    val aggs = cols.flatMap(c => Seq(
      bound(c, min(col(c))).as(s"__min_$c"),
      bound(c, max(col(c))).as(s"__max_$c"),
      count(col(c)).as(s"__cnt_$c"))) :+ count(lit(1)).as("__n")
    df.groupBy(col("_metadata.file_path").as("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val name = Paths.get(new java.net.URI(r.getString(0)).getPath)
          .getFileName.toString
        val rows = r.getAs[Long]("__n")
        val minMax = cols.flatMap { c =>
          (Option(r.getAs[String](s"__min_$c")),
            Option(r.getAs[String](s"__max_$c"))) match {
            case (Some(lo), Some(hi)) => Some(c -> (lo, hi))
            case _ => None
          }
        }
        val counts = (RowsKey -> (rows.toString, rows.toString)) +:
          cols.map { c =>
            val nulls = rows - r.getAs[Long](s"__cnt_$c")
            nullsKey(c) -> (nulls.toString, nulls.toString)
          }
        name -> (minMax ++ counts).toMap
      }.toMap
  }

  // ---------------------------------------------------------- bloom index

  /** Per-file Bloom point-lookup index over `bloomFor` columns of freshly
    * written files — Delta's Bloom-filter-index shape: min/max stats
    * cannot prune an equality probe on a column the files are NOT
    * clustered on (every file's range spans the probe), which is exactly
    * the needle-in-a-haystack lookup a 100 TB table needs. One narrow
    * aggregate over just-written data builds a
    * [[org.apache.spark.util.sketch.BloomFilter]] per (file, column) —
    * fed `xxhash64(col)`, the SAME hash [[GraftFileIndex]] applies to the
    * probe literal at planning time, so a negative answer is proof the
    * file holds no matching row (no false negatives; false positives just
    * keep a file). Filters are sized for the LARGEST file in the batch at
    * `fpp` (one counts pass, then one build pass — numBits is a plan-time
    * constant), capped at 64 Mbit so a pathological batch cannot write a
    * gigabyte sidecar.
    *
    * Storage: ONE JSON sidecar per commit in the table dir
    * (`<uuid>-bloom.json`, entries keyed by data-file name), listed in
    * the commit's `bloomAdd` — the log itself stays a lean manifest.
    * Entries for files later rewritten (MERGE / DELETE) die silently with
    * their files; a full-replacement commit (overwrite / OPTIMIZE /
    * restore) RESETS the sidecar list, so rebuilding the index is part of
    * the regular compaction cadence, as in Delta.
    *
    * Cost bounds (a wide append must not OOM the driver):
    *  - filters are sized per SIZE CLASS (power-of-4 row-count buckets),
    *    not for the batch's largest file — a batch mixing a 128 MB file
    *    with thousand-row stragglers no longer pays largest-file bits ×
    *    every file (waste is bounded at 4× within a class; one narrow
    *    aggregate pass per class, each over only its class's files, so
    *    total data read is unchanged);
    *  - the sidecar TOTAL is capped at [[MaxBloomSidecarBytes]]: classes
    *    are admitted largest-files-first (a hit on a big file skips the
    *    most I/O) and files past the cap simply get no filter —
    *    conservative keep on the read side — with a warning naming the
    *    drop;
    *  - entries STREAM to the sidecar through `toLocalIterator` (one
    *    file's filters in driver memory at a time), never a collect of
    *    every filter + mkString of a multi-GB string. */
  private def computeBlooms(spark: SparkSession, table: String,
      files: Seq[String], bloomFor: Seq[String],
      fpp: Double, maxBytesOpt: Option[Long] = None): Seq[String] = {
    if (bloomFor.isEmpty || files.isEmpty) return Nil
    require(fpp > 0 && fpp < 1, s"bloomFpp must be in (0,1), got $fpp")
    // resolve the cap ONCE per commit: the global is a process default
    // another thread may mutate mid-commit — per-call callers pin it
    val maxBytes = maxBytesOpt.getOrElse(MaxBloomSidecarBytes)
    val df = spark.read.parquet(files.map(f => Paths.get(table, f).toString): _*)
    val cols = bloomFor.filter(df.columns.contains)
      .filterNot(_.startsWith("__")) // reserved-key namespace, never indexed
    if (cols.isEmpty) return Nil
    // pass 1: per-file row counts → power-of-4 size classes. Footer
    // metadata first (O(files), no job — the same lever as computeStats'
    // footer pass); the count job survives as the fallback. Both yield
    // PLAIN filesystem paths for the per-class reads below.
    val counts: Seq[(String, Long)] =
      FooterStats.rowCounts(table, files) match {
        case Some(m) => m.toSeq.map { case (n, c) =>
          Paths.get(table, n).toString -> c
        }
        case None => df.groupBy(col("_metadata.file_path")).count()
          .collect().map(r =>
            new java.net.URI(r.getString(0)).getPath -> r.getLong(1)).toSeq
      }
    def sizeClass(n: Long): Int =
      (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))) / 2
    def numBits(items: Long): Long = math.min(1L << 26,
      // n * ln(1/p) / ln(2)^2, the standard optimal-bits formula
      math.max(64L, (items * math.log(1.0 / fpp) /
        (math.log(2) * math.log(2))).ceil.toLong))
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val enc = java.util.Base64.getEncoder
    val sidecar = s"${UUID.randomUUID().toString.take(12)}-bloom.json"
    val tmp = Paths.get(table, s".tmp-$sidecar")
    val w = Files.newBufferedWriter(tmp)
    var written = 0L // sidecar payload bytes so far
    var entries = 0L
    var skipped = 0  // files dropped past the cap
    try {
      w.write("""{"entries":[""")
      // largest classes first: under the cap, a filter on a big file
      // buys the most skipped I/O per sidecar byte
      for ((cls, members) <- counts.groupBy(c => sizeClass(c._2)).toSeq
          .sortBy { case (k, _) => -k }) {
        val items = math.max(1L, members.map(_._2).max)
        val bits = numBits(items)
        // per-entry bytes, OVERestimated never under: the serialized
        // filter is a 12-byte header + the bit array as longs, base64
        // inflates 4/3 rounding UP, and the JSON envelope adds ~file
        // name + column + quoting — for the smallest (64-bit) class the
        // fixed costs dominate the payload, so a payload-only estimate
        // admits classes that then overshoot the cap severalfold
        val serialized = 12L + ((bits + 63) / 64) * 8
        val perEntry = 4L * ((serialized + 2) / 3) + 96
        val projected = perEntry * members.size * cols.size
        if (written + projected > maxBytes) {
          skipped += members.size
        } else {
          val sub = spark.read.parquet(members.map(_._1): _*)
          val aggs = cols.map { c =>
            Bridge.column(new BloomFilterAggregate(
              new XxHash64(Seq(Bridge.expression(col(c)))),
              Literal(items), Literal(bits)).toAggregateExpression())
              .as(s"__bf_$c")
          }
          val it = sub.groupBy(col("_metadata.file_path").as("__fp"))
            .agg(aggs.head, aggs.tail: _*).toLocalIterator()
          while (it.hasNext) {
            val r = it.next()
            val name = Paths.get(new java.net.URI(r.getString(0)).getPath)
              .getFileName.toString
            cols.foreach { c =>
              Option(r.getAs[Array[Byte]](s"__bf_$c")).foreach { b =>
                val payload = enc.encodeToString(b)
                if (entries > 0) w.write(",")
                val entry = s"""{"file":${Fmt.jsonString(name)},""" +
                  s""""column":${Fmt.jsonString(c)},""" +
                  s""""bloom":${Fmt.jsonString(payload)}}"""
                w.write(entry)
                // count FULL entry bytes, the same units the admission
                // projection estimates in
                written += entry.length
                entries += 1
              }
            }
          }
        }
      }
      w.write("]}")
    } finally w.close()
    if (skipped > 0)
      log.warn(s"bloom index for $table: sidecar cap " +
        s"($maxBytes bytes) reached after $written bytes — " +
        s"$skipped of ${counts.size} files get no filter this commit " +
        "(reads stay correct, those files just never bloom-prune); " +
        "raise the cap, reduce bloom columns, or compact before indexing")
    if (entries == 0) { Files.deleteIfExists(tmp); return Nil }
    Files.move(tmp, Paths.get(table, sidecar), StandardCopyOption.ATOMIC_MOVE)
    Seq(sidecar)
  }

  /** PROCESS-DEFAULT cap on one commit's Bloom sidecar payload
    * (operational knob, like [[commitArbiter]] — set once at startup;
    * concurrent writers needing different caps pass the per-call
    * `bloomMaxBytes` option on append/compact instead of mutating this).
    * 128 MB ≈ 16 full-size (2^26-bit) filters — far beyond a sane
    * per-commit index, close enough to stop a wide append × many bloom
    * columns from building a multi-GB sidecar on the driver; files past
    * the cap simply never bloom-prune. */
  @volatile var MaxBloomSidecarBytes: Long = 128L * 1024 * 1024

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.io.VersionedTable")

  /** Columns the table currently tracks min/max stats for — the REAL
    * column names in the live manifest (reserved `__` count keys
    * excluded). The basis for STICKY stats: once a column is indexed,
    * every later write keeps indexing it (Delta collects stats on every
    * write; an index that silently decayed on MERGE/DELETE/CDC rewrites
    * would rot skipping until the next OPTIMIZE). */
  private def trackedStatColumns(st: TableState): Seq[String] =
    st.fileStats.values.flatMap(_.keys)
      .filterNot(_.startsWith("__")) // reserved count/size keys
      .toSeq.distinct

  /** Columns the table currently keeps Bloom indexes for — discovered
    * from the live sidecars (driver-side, cached; kilobytes). */
  /** Column NAMES a bloom sidecar tracks — parsed once per JVM and
    * cached as strings, never decoding the base64 filters: sticky-column
    * discovery runs on EVERY write, and the old path (loadBlooms over
    * all live sidecars) deserialized and permanently cached every filter
    * — up to 8 MB per (file, column) — just to read a list of names. */
  private val bloomColsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def trackedBloomColumns(table: String, st: TableState)
      : Seq[String] =
    st.blooms.flatMap { sc =>
      val p = Paths.get(table, sc).toAbsolutePath.toString
      bloomColsCache.computeIfAbsent(p, { key =>
        val kp = Paths.get(key)
        if (!Files.exists(kp)) Nil
        else scala.util.Try {
          val n = mapper.readTree(Files.readAllBytes(kp))
          Option(n.get("entries")).map(_.elements().asScala
            .map(_.get("column").asText()).toSeq.distinct)
            .getOrElse(Seq.empty[String])
        }.getOrElse(Seq.empty[String])
      })
    }.distinct

  /** Explicit request wins; otherwise inherit what the table tracks.
    * `__`-prefixed names are rejected loudly: the reserved row/null/byte
    * count keys live in the same per-file stats map as column names, so
    * indexing a column literally named `__nulls_x` would store its
    * min/max under column x's null-count key and mis-prune x. */
  private def effectiveCols(requested: Seq[String],
      tracked: => Seq[String]): Seq[String] = {
    val bad = requested.filter(_.startsWith("__"))
    require(bad.isEmpty,
      s"cannot index '__'-prefixed columns (${bad.mkString(", ")}): the " +
        "prefix is reserved for per-file count keys in the stats map; " +
        "rename the column to make it skippable")
    if (requested.nonEmpty) requested else tracked
  }

  /** Loaded bloom sidecars, keyed by absolute sidecar path — sidecar
    * files are immutable once committed, so entries never invalidate
    * (vacuumed sidecars just stop being referenced by any state). The
    * cache is a BYTE-BUDGETED LRU: a long-lived driver reading many
    * snapshot generations would otherwise accumulate every filter it
    * ever deserialized (up to 8 MB each) without bound. */
  private object bloomCache {
    private val BudgetBytes = 256L * 1024 * 1024
    private var bytes = 0L
    private val map = new java.util.LinkedHashMap[String,
      (Long, Map[(String, String), org.apache.spark.util.sketch.BloomFilter])](
      16, 0.75f, /* accessOrder = */ true)

    def get(key: String, load: String =>
        Map[(String, String), org.apache.spark.util.sketch.BloomFilter])
        : Map[(String, String), org.apache.spark.util.sketch.BloomFilter] = {
      synchronized {
        val hit = map.get(key)
        if (hit != null) return hit._2
      }
      // disk I/O + deserialization (up to ~100 MB a sidecar) OUTSIDE the
      // lock: concurrent planners loading UNRELATED sidecars must not
      // serialize behind each other. Two racers on the SAME key may
      // duplicate the load — the loser's copy is dropped, never corrupt
      val v = load(key)
      val sz = v.valuesIterator.map(_.bitSize() / 8).sum
      synchronized {
        if (!map.containsKey(key)) {
          map.put(key, (sz, v))
          bytes += sz
          val it = map.entrySet().iterator()
          // evict least-recently-used first; never the entry just added
          // (a single over-budget sidecar stays cached alone)
          while (bytes > BudgetBytes && it.hasNext) {
            val e = it.next()
            if (e.getKey != key) { bytes -= e.getValue._1; it.remove() }
          }
        }
        map.get(key)._2
      }
    }
  }

  private def loadBlooms(table: String, sidecars: Seq[String])
      : Map[(String, String), org.apache.spark.util.sketch.BloomFilter] =
    sidecars.flatMap { sc =>
      val p = Paths.get(table, sc).toAbsolutePath.toString
      bloomCache.get(p, { key =>
        val kp = Paths.get(key)
        if (!Files.exists(kp)) Map.empty
        else {
          val n = mapper.readTree(Files.readAllBytes(kp))
          val dec = java.util.Base64.getDecoder
          Option(n.get("entries")).map(_.elements().asScala.map { e =>
            (e.get("file").asText(), e.get("column").asText()) ->
              org.apache.spark.util.sketch.BloomFilter.readFrom(
                dec.decode(e.get("bloom").asText()))
          }.toMap).getOrElse(Map.empty)
        }
      })
    }.toMap

  /** A write was rejected because its schema conflicts with the table's —
    * the write-side half of the lakehouse schema contract (Delta's
    * enforcement): a bad producer must fail AT WRITE TIME, loudly, not
    * poison every future read with a mergeSchema type clash. */
  final class SchemaEnforcementException(msg: String)
    extends IllegalArgumentException(msg)

  /** Table schema as a name → type-catalogString map, merged across the
    * FULL live-schema lineage — not just the latest commit's schema
    * (empty map for an empty/absent table — first writer sets the schema
    * freely). The lineage matters: after a subset-schema append (legal —
    * missing columns read as null), the latest commit's schema no longer
    * lists columns that still live in earlier files; judging "new
    * column" against it alone would let a TYPE change slip through as an
    * apparently-new column and poison every future mergeSchema read.
    * When lineage schemas disagree on a type (pre-enforcement history),
    * the latest wins. catalogString deliberately ignores nullability:
    * null-ness differs freely between frames computed different ways and
    * is handled by the read side, while a TYPE change is always a
    * corruption. */
  private def currentSchemaMap(table: String): Map[String, String] =
    latestVersion(table).map { v =>
      stateAt(table, v).schemas.foldLeft(Map.empty[String, String]) {
        (acc, json) =>
          if (json.isEmpty) acc
          // keys lowercased: Spark resolves columns case-insensitively
          // by default, so `V BIGINT` against existing `v string` is a
          // TYPE CHANGE (and would make col("v") ambiguous on the next
          // mergeSchema read), not a new column
          else acc ++ DataType.fromJson(json).asInstanceOf[StructType]
            .fields.map(f =>
              f.name.toLowerCase -> f.dataType.catalogString)
      }
    }.getOrElse(Map.empty)

  /** Append-side schema enforcement: a column shared with the table must
    * keep its exact type (always rejected otherwise — type evolution
    * goes through [[overwrite]] with `overwriteSchema = true`); columns
    * NEW to the table require an explicit `mergeSchema = true` (Delta's
    * `.option("mergeSchema")` opt-in); columns the incoming frame lacks
    * are fine — historical files already read null for them. */
  private def enforceAppendSchema(table: String, incoming: StructType,
      mergeSchema: Boolean): Unit = {
    val cur = currentSchemaMap(table)
    if (cur.isEmpty) return
    val conflicts = incoming.fields
      .filter(f =>
        cur.get(f.name.toLowerCase).exists(_ != f.dataType.catalogString))
    if (conflicts.nonEmpty)
      throw new SchemaEnforcementException(
        "append changes column types on " + table + ": " +
          conflicts.map(f =>
            s"${f.name}: ${cur(f.name.toLowerCase)} -> " +
              f.dataType.catalogString)
            .mkString(", ") +
          "; type changes require overwrite(overwriteSchema = true)")
    val added = incoming.fields.map(_.name)
      .filterNot(n => cur.contains(n.toLowerCase))
    if (added.nonEmpty && !mergeSchema)
      throw new SchemaEnforcementException(
        "append adds new columns to " + table + ": " +
          added.mkString(", ") + "; pass mergeSchema = true to evolve " +
          "the schema (historical files read the new columns as null)")
  }

  /** Overwrite-side enforcement: overwrite REPLACES the live file set,
    * so the table's schema becomes the frame's — any name/type drift
    * from the current schema requires `overwriteSchema = true`. */
  private def enforceOverwriteSchema(table: String, incoming: StructType,
      overwriteSchema: Boolean): Unit = {
    if (overwriteSchema) return
    val cur = currentSchemaMap(table)
    if (cur.isEmpty) return
    val inc = incoming.fields.map(f =>
      f.name.toLowerCase -> f.dataType.catalogString)
    if (inc.toMap != cur)
      throw new SchemaEnforcementException(
        "overwrite changes the schema of " + table +
          s" (table: ${cur.toSeq.sortBy(_._1).mkString(", ")}; frame: " +
          s"${inc.sortBy(_._1).mkString(", ")}); pass " +
          "overwriteSchema = true to replace it")
  }

  /** Optimized-write sizing (Delta/Databricks `optimizeWrite`): an AQE
    * REBALANCE shuffle before the file write, so output files target
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB default)
    * regardless of the input plan's partitioning. Without it every
    * append emits one file PER INPUT PARTITION — a streaming
    * [[versionedSink]] writing shuffle-partition-count near-empty files
    * per micro-batch is exactly how a 100 TB table degrades into the
    * small-file swamp that OPTIMIZE then has to mop up. Cost: one extra
    * shuffle of the appended delta (never of the table) — the standard
    * optimize-write trade; pass `optimizeWrite = false` for bulk loads
    * whose partitioning is already file-sized. */
  private def sized(df: DataFrame, optimizeWrite: Boolean): DataFrame =
    if (optimizeWrite) df.hint("rebalance") else df

  /** Blind append: new files join the current file set. Never conflicts —
    * racing appenders serialize through slot claims. Returns the commit.
    * `statsFor` columns get per-file min/max recorded in the commit for
    * manifest-level data skipping ([[snapshotWhere]]); file sizing via
    * [[sized]]. */
  def append(spark: SparkSession, df: DataFrame, table: String,
      statsFor: Seq[String] = Nil, optimizeWrite: Boolean = true,
      mergeSchema: Boolean = false, bloomFor: Seq[String] = Nil,
      bloomFpp: Double = 0.03,
      bloomMaxBytes: Option[Long] = None): Commit =
    appendImpl(spark, df, table, statsFor, optimizeWrite, mergeSchema,
      bloomFor, bloomFpp, bloomMaxBytes, txn = None)

  /** The one append body [[append]] and [[appendIdempotent]] share —
    * they differ ONLY in the txn key (the two copies had already
    * required lock-step edits for sticky indexing, revalidation and the
    * bloom cap; a fix landing in one silently weakens the other). */
  private def appendImpl(spark: SparkSession, df: DataFrame, table: String,
      statsFor: Seq[String], optimizeWrite: Boolean, mergeSchema: Boolean,
      bloomFor: Seq[String], bloomFpp: Double, bloomMaxBytes: Option[Long],
      txn: Option[(String, Long)]): Commit = {
    Files.createDirectories(Paths.get(table))
    enforceAppendSchema(table, df.schema, mergeSchema)
    enforceConstraints(table, df)
    // sticky indexing: an un-annotated append to a stats/bloom-tracked
    // table keeps tracking the same columns
    lazy val prior = latestVersion(table).map(stateAt(table, _))
    val sf = effectiveCols(statsFor,
      prior.map(trackedStatColumns).getOrElse(Nil))
    val bfc = effectiveCols(bloomFor,
      prior.map(trackedBloomColumns(table, _)).getOrElse(Nil))
    val files = writeDataFiles(sized(df, optimizeWrite), table)
    val c = commitLoop(table, "append", files, _ => Nil, df.schema.json,
      None,
      txn = txn,
      stats = withSizes(table, files, computeStats(spark, table, files, sf)),
      bloomAdd = computeBlooms(spark, table, files, bfc, bloomFpp,
        bloomMaxBytes),
      revalidate = () => {
        enforceAppendSchema(table, df.schema, mergeSchema)
        // re-check constraints too: a slot-race winner may have just
        // ADDED one, and our rows must honor it before landing on top
        enforceConstraints(table, df)
      })
    maybeAutoCompact(spark, table)
    c
  }

  /** Idempotent append keyed by (`txnApp`, `txnId`) — Delta's
    * txnAppId/txnVersion contract. A replay of an already-committed
    * transaction (streaming micro-batch retry, job restart) writes no new
    * state: the existing commit is found (pre-checked before the data
    * write, re-checked inside the claim loop against racers) and returned.
    * This is what makes [[versionedSink]] exactly-once: foreachBatch is
    * at-least-once, and the txn check collapses replays. */
  def appendIdempotent(spark: SparkSession, df: DataFrame, table: String,
      txnApp: String, txnId: Long, statsFor: Seq[String] = Nil,
      optimizeWrite: Boolean = true, mergeSchema: Boolean = false,
      bloomFor: Seq[String] = Nil, bloomFpp: Double = 0.03,
      bloomMaxBytes: Option[Long] = None): Commit =
    txnCommit(table, txnApp, txnId).getOrElse(
      appendImpl(spark, df, table, statsFor, optimizeWrite, mergeSchema,
        bloomFor, bloomFpp, bloomMaxBytes, txn = Some((txnApp, txnId))))

  /** Exactly-once streaming ingestion into a versioned table: each
    * micro-batch lands as one idempotent txn-tracked append commit
    * (`txnApp` = the sink's app id, `txnId` = the batch id), so a
    * checkpoint-replayed batch after a crash finds its own commit and
    * writes nothing — the lakehouse streaming-sink contract the plain
    * parquet `appendSink` cannot give. Readers time-travel mid-stream:
    * every micro-batch is a queryable version. */
  def versionedSink(stream: DataFrame, table: String, checkpoint: String,
      appId: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendIdempotent(batch.sparkSession, batch, table, appId, batchId)
        ()
      }
      .start()

  /** Replace the table contents (CREATE OR REPLACE semantics). Version-
    * conflict-checked against the state the caller last observed when
    * `expectVersion` is given; a bootstrap overwrite of an empty table
    * needs no check. With `txn`, the overwrite is idempotent under the
    * (`txnApp`, `txnId`) contract exactly like [[appendIdempotent]]: a
    * replayed overwrite finds its own commit and writes nothing — the
    * guard incremental-refresh jobs need, since re-folding a delta into
    * an already-folded state would double-count
    * ([[ChangeConsumer.maintainSumState]]). */
  def overwrite(spark: SparkSession, df: DataFrame, table: String,
      expectVersion: Option[Long] = None,
      statsFor: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      optimizeWrite: Boolean = true,
      overwriteSchema: Boolean = false,
      bloomFor: Seq[String] = Nil, bloomFpp: Double = 0.03,
      bloomMaxBytes: Option[Long] = None): Commit =
    txn.flatMap(t => txnCommit(table, t._1, t._2)).getOrElse {
      Files.createDirectories(Paths.get(table))
      enforceOverwriteSchema(table, df.schema, overwriteSchema)
      // CHECK constraints survive an overwrite (Delta: they live in table
      // metadata, not in the replaced data) — the fresh contents must
      // satisfy them like any other write
      enforceConstraints(table, df)
      val read = expectVersion.orElse(latestVersion(table))
      lazy val prior = read.map(stateAt(table, _))
      val sf = effectiveCols(statsFor,
        prior.map(trackedStatColumns).getOrElse(Nil))
      val bfc = effectiveCols(bloomFor,
        prior.map(trackedBloomColumns(table, _)).getOrElse(Nil))
      val files = writeDataFiles(sized(df, optimizeWrite), table)
      // change capture (CDF): an overwrite retires every prior row and
      // lands every new one — envelopes are the prior snapshot as
      // deletes plus the written files as inserts (Delta's shape for
      // CDF-enabled INSERT OVERWRITE). O(old + new): the honest cost of
      // change-feeding a full replacement; selective writers should
      // MERGE/DELETE instead, which capture O(delta).
      val cdc = prior match {
        // an empty write of an empty table changes nothing — and a
        // zero-path parquet read cannot even infer a schema
        case Some(p) if cdfEnabled(p.props) &&
            (p.files.nonEmpty || files.nonEmpty) =>
          val old = readState(spark, table, p, p.files)
            .withColumn("_change_type", lit("delete"))
          val env =
            if (files.isEmpty) old // delete-all overwrite
            else old.unionByName(
              spark.read.parquet(
                files.map(f => Paths.get(table, f).toString): _*)
                .withColumn("_change_type", lit("insert")),
              allowMissingColumns = true)
          writeCdc(env, table, math.max(1, files.size))
        case _ => Nil
      }
      // the remove set is derived from the slot the commit actually
      // LANDS in, not the version observed before the loop: a bootstrap
      // overwrite (read = None) that loses its slot race must replace
      // the racer's files on retry — a stale-read remove set would
      // silently union the two writers' rows instead. (With `read` set
      // the serializable check pins next = read + 1, so the two
      // derivations agree.) Ditto the DV retire set: a full replace
      // clears whatever sidecars are active at the predecessor.
      commitLoop(table, "overwrite", files,
        v => if (v == 0) Nil else stateAt(table, v - 1).files,
        df.schema.json, readVersion = read, txn = txn,
        stats = withSizes(table, files,
          computeStats(spark, table, files, sf)),
        bloomAdd = computeBlooms(spark, table, files, bfc, bloomFpp,
          bloomMaxBytes),
        revalidate = () => {
          enforceOverwriteSchema(table, df.schema, overwriteSchema)
          enforceConstraints(table, df)
        },
        dvRemoveAt = v => if (v == 0) Nil else stateAt(table, v - 1).dv,
        cdcAdd = cdc)
    }

  /** Apply a change-feed frame (`_change_type` ∈ insert /
    * update_preimage / update_postimage / delete, the [[changeFeed]]
    * shape) to this table as ONE idempotent commit — the row-level CDC
    * sink that keeps a downstream mirror in sync with an upstream
    * versioned table without rewriting it.
    *
    * File-granular, the [[deleteWhere]] discipline: only data files that
    * CONTAIN a changed key are rewritten (survivor rows re-written minus
    * changed keys, plus the new/updated rows); untouched files carry
    * over by reference. On a selective change set this touches a sliver
    * of a 100 TB mirror. The (`txnApp`, `txnId`) guard makes replays
    * no-ops, so an at-least-once driver loop
    * ([[ChangeConsumer.processChanges]]) yields an exactly-once mirror. */
  def applyChanges(spark: SparkSession, feed: DataFrame, table: String,
      keys: Seq[String], txnApp: String, txnId: Long,
      statsFor: Seq[String] = Nil,
      isolation: Isolation = Isolation.WriteSerializable): Commit = {
    require(keys.nonEmpty, "applyChanges needs row keys")
    txnCommit(table, txnApp, txnId).getOrElse {
      Files.createDirectories(Paths.get(table))
      // persisted: the caller's feed is often itself an expensive
      // derivation (a changeFeed classification over commit diffs), and
      // unpersisted it re-evaluated once per consumer below — the
      // survivor write, the changed-key bounds agg + hit semi-join, and
      // every CDF capture join: ~6 evaluations per apply (r18 opt).
      // Released in the finally at the bottom of this block — UNLESS the
      // caller already persisted this exact frame (e.g. replaying one
      // changeFeed into several mirrors): Spark's CacheManager is
      // plan-keyed, not reference-counted, so persist+unpersist here
      // would silently drop the caller's cache after the first apply.
      val feedOwned =
        feed.storageLevel == org.apache.spark.storage.StorageLevel.NONE
      val feedP = if (feedOwned) feed.persist() else feed
      val upserts = feedP.filter(col("_change_type")
        .isin("insert", "update_postimage")).drop("_change_type")
      // preimages are informational; every other change type names a key
      // whose dst row (if any) must go — updates retire the old row,
      // inserts guard against re-inserting a key the dst already holds.
      // Persisted too: the distinct is a shuffle, and hitFilePaths alone
      // consumes it twice (bounds aggregate + exact semi-join).
      val changedKeys = feedP
        .filter(col("_change_type") =!= "update_preimage")
        .select(keys.map(col): _*).distinct().persist()
      try {
      // same write-time bar as append/merge: a feed whose shared columns
      // re-type the table fails loudly; new feed columns are the CDC
      // schema-evolution path (hence mergeSchema = true)
      enforceAppendSchema(table, upserts.schema, mergeSchema = true)
      // only the upserts can introduce violations: survivor rows were in
      // the table already, and every active constraint validated the full
      // snapshot when it was added
      enforceConstraints(table, upserts)
      latestVersion(table) match {
        case None =>
          val files = writeDataFiles(upserts, table)
          commitLoop(table, "apply_changes", files, _ => Nil,
            upserts.schema.json, None, txn = Some((txnApp, txnId)),
            stats = withSizes(table, files,
              computeStats(spark, table, files, statsFor)),
            revalidate = () => {
              enforceAppendSchema(table, upserts.schema, mergeSchema = true)
              enforceConstraints(table, upserts)
            })
        case Some(v) =>
          val st = stateAt(table, v)
          // hit-file rewrite reads raw files — active DVs would resurrect
          requireNoDv(st, "applyChanges", table)
          if (st.schemaJson.isEmpty) {
            // metadata-only log so far (e.g. setProperties enabling CDF
            // before the first data write): this IS the bootstrap write
            val files = writeDataFiles(upserts, table)
            commitLoop(table, "apply_changes", files, _ => Nil,
              upserts.schema.json, readVersion = Some(v),
              txn = Some((txnApp, txnId)),
              stats = withSizes(table, files,
                computeStats(spark, table, files, statsFor)),
              revalidate = () => {
                enforceAppendSchema(table, upserts.schema,
                  mergeSchema = true)
                enforceConstraints(table, upserts)
              },
              rebaseOverAdds = isolation == Isolation.WriteSerializable)
          } else {
          val schema = DataType.fromJson(st.schemaJson)
            .asInstanceOf[StructType]
          val hitPaths =
            hitFilePaths(spark, table, st, schema, changedKeys, keys)
          // persisted: the touched-file sliver feeds the survivor
          // anti-join AND (under CDF) the capture's old-row joins —
          // unpersisted, each consumer re-read the hit parquet files
          // end to end (the merge hitRows rationale, r18 opt)
          val hitScan =
            if (hitPaths.isEmpty)
              spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
                schema)
            else spark.read.option("mergeSchema", "true")
              .parquet(hitPaths.map(p => new java.net.URI(p).getPath): _*)
              .persist()
          val survivors =
            if (hitPaths.isEmpty) upserts
            // allowMissingColumns: under schema evolution the hit files
            // (old physical schema) and the feed (source's to-version
            // schema) may differ — absent sides null-fill, the CDC
            // convention for columns that predate/postdate a row
            else keyJoin(hitScan, changedKeys, keys, "left_anti")
              .unionByName(upserts, allowMissingColumns = true)
          val hitNames = hitPaths.map(p =>
            Paths.get(new java.net.URI(p).getPath).getFileName.toString)
          // keep the file count proportional to the files TOUCHED, not
          // to the join's shuffle-partition count — without this every
          // 1-file delta fragments the mirror by `shuffle.partitions`
          // new files and the table degrades cycle by cycle. A
          // pure-insert feed (no hits) keeps its natural write
          // parallelism, like merge — coalesce(1) would funnel a large
          // insert-only backfill through one task
          val added = writeDataFiles(
            if (hitNames.nonEmpty) survivors.coalesce(hitNames.size)
            else survivors, table)
          // change capture (CDF): old rows in the hit files split into
          // deletes (feed said delete) and update pre-images (feed
          // upserted their key); the feed's upserts split into
          // post-images (key existed) and inserts (key is new). Assumes
          // the feed is key-compacted — one final op per key — which is
          // what [[changeFeed]]/[[ChangeConsumer]] produce. Each split
          // is ONE join (r18 opt): the old rows inner-join a typed
          // key-op table (the op the feed named for that key — a
          // non-compacted feed naming a key twice matches twice, which
          // is byte-for-byte what the old semi-join pair emitted); the
          // upserts LEFT-join the distinct old keys with an explicit
          // marker (null-safe join, so only `__hit` — never the right
          // key's nullness — distinguishes post-image from insert).
          val cdc =
            if (!cdfEnabled(st.props)) Nil
            else {
              val old = hitScan
              val ph = keys.indices.map(i => s"__graft_ck_$i")
              // working/marker columns use the same collision-resistant
              // __graft_ prefix as the key placeholders: a DATA column
              // literally named "__hit"/"__ct" is legal in a feed, and a
              // bare col() reference would then be ambiguous and fail
              // the whole CDC write with an AnalysisException
              val keyOps = feedP
                .filter(col("_change_type") =!= "update_preimage")
                .select(keys.map(col) :+
                  when(col("_change_type") === "delete", lit("delete"))
                    .otherwise(lit("update_preimage")).as("__graft_ct"): _*)
                .distinct()
                .toDF(ph :+ "__graft_ct": _*)
              val oldPart = old.join(keyOps,
                  keys.zip(ph).map { case (k, p) =>
                    old(k) <=> keyOps(p) }.reduce(_ && _))
                .withColumn("_change_type", col("__graft_ct"))
                .drop(ph :+ "__graft_ct": _*)
              val oldKeysM = old.select(keys.map(col): _*).distinct()
                .toDF(ph: _*).withColumn("__graft_hit", lit(true))
              val postIns = upserts.join(oldKeysM,
                  keys.zip(ph).map { case (k, p) =>
                    upserts(k) <=> oldKeysM(p) }.reduce(_ && _),
                  "left")
                .withColumn("_change_type",
                  when(col("__graft_hit"), lit("update_postimage"))
                    .otherwise(lit("insert")))
                .drop(ph :+ "__graft_hit": _*)
              writeCdc(oldPart
                .unionByName(postIns, allowMissingColumns = true),
                table, hitNames.size)
            }
          try commitLoop(table, "apply_changes", added, _ => hitNames,
            schema.json, readVersion = Some(v),
            txn = Some((txnApp, txnId)),
            stats = withSizes(table, added, computeStats(spark, table,
              added, effectiveCols(statsFor, trackedStatColumns(st)))),
            bloomAdd = computeBlooms(spark, table, added,
              trackedBloomColumns(table, st), 0.03),
            revalidate = () => {
              enforceAppendSchema(table, upserts.schema, mergeSchema = true)
              enforceConstraints(table, upserts)
            },
            rebaseOverAdds = isolation == Isolation.WriteSerializable,
            cdcAdd = cdc)
          finally hitScan.unpersist(blocking = false)
          }
      }
      } finally {
        changedKeys.unpersist(blocking = false)
        if (feedOwned) feedP.unpersist(blocking = false)
      }
    }
  }

  /** Null-safe key semi/anti join: NULL is a REAL key value on the CDC
    * paths (a materialized view grouping by an arbitrary column has a
    * legitimate NULL group), so key-identity comparisons use `<=>` —
    * a plain column-name join silently never matches null-keyed rows,
    * which here means an old state row that never retires and a gone
    * group that never deletes. Right-side key columns are renamed to
    * positional placeholders to disambiguate; semi/anti joins keep no
    * right columns, so the rename never leaks. */
  private[graft] def keyJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], how: String): DataFrame = {
    val ph = keys.indices.map(i => s"__graft_rk_$i")
    val r = right.select(keys.map(col): _*).toDF(ph: _*)
    left.join(r,
      keys.zip(ph).map { case (k, p) => left(k) <=> r(p) }.reduce(_ && _),
      how)
  }

  /** Data files of version-state `st` that may contain a key from
    * `changedKeys`: manifest stats pre-prune (single-key change sets
    * against recorded per-file min/max — files outside the changed-key
    * range are skipped without a scan; a NULL changed key additionally
    * admits every file whose recorded null count for the key column is
    * nonzero or unknown, since min/max never see nulls), then an exact
    * null-safe semi-join over the surviving candidates. Returns absolute
    * paths; bounded by file count. */
  private def hitFilePaths(spark: SparkSession, table: String,
      st: TableState, schema: StructType, changedKeys: DataFrame,
      keys: Seq[String]): Seq[String] = {
    // the bounds aggregate only pays off when at least one file records
    // min/max (or a null count) for the key column — fileStats.nonEmpty
    // alone is true on EVERY table (withSizes always records sizes), so
    // a stat-less table paid one collect job per MERGE/apply just to
    // keep every candidate anyway (r18 opt)
    def keyHasStats(k: String): Boolean = st.fileStats.valuesIterator
      .exists(m => m.contains(k) || m.contains(nullsKey(k)))
    val candidates =
      if (keys.size == 1 && keyHasStats(keys.head)) {
        val k = keys.head
        val b = changedKeys.agg(min(col(k)), max(col(k)),
          max(col(k).isNull.cast("int"))).collect()(0)
        val ranged =
          if (b.isNullAt(0)) Nil // no non-null changed keys
          else filesInRange(st, schema, k,
            Some(b.get(0)), Some(b.get(1)),
            spark.conf.get("spark.sql.session.timeZone"))
        val nullable =
          if (b.isNullAt(2) || b.getInt(2) == 0) Nil // no null changed key
          else st.files.filter { f =>
            st.fileStats.get(f).flatMap(_.get(nullsKey(k))) match {
              case Some((n, _)) =>
                scala.util.Try(n.toLong > 0).getOrElse(true)
              case None => true // unknown: cannot exclude
            }
          }
        (ranged ++ nullable).distinct
      } else st.files
    if (candidates.isEmpty) Seq.empty
    else {
      val scan = spark.read
        .parquet(candidates.map(f => Paths.get(table, f).toString): _*)
        // materialize the metadata pseudo-column BEFORE the join — it
        // only resolves directly against the scan relation
        .select(col("*"), col("_metadata.file_path").as("__fp"))
      keyJoin(scan, changedKeys, keys, "left_semi")
        .select(col("__fp")).distinct()
        .collect().map(_.getString(0)).toSeq
    }
  }

  /** MERGE into the versioned table, file-granular (the Delta MERGE
    * shape): only data files CONTAINING a source key are read and
    * rewritten ([[Upsert.merge]] of their rows against the source —
    * updates + inserts land in the new files); every other file carries
    * over by reference. A selective MERGE into a 100 TB table touches
    * the files the keys live in, nothing else — and, because untouched
    * files survive as-is, a downstream [[changeFeed]] over the commit
    * diffs only the touched sliver too. With single-column keys and
    * recorded stats ([[append]]'s `statsFor`), candidate files are
    * pre-pruned by manifest min/max before any scan. Optimistic,
    * [[Isolation.WriteSerializable]] by default: interleaved blind
    * appends rebase; anything else raises, nothing lost. */
  def merge(spark: SparkSession, source: DataFrame, table: String,
      keys: Seq[String],
      updateColumns: Option[Seq[String]] = None,
      isolation: Isolation = Isolation.WriteSerializable): Commit = {
    require(keys.nonEmpty, "merge needs keys")
    val rv = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no table at $table to merge into"))
    val st = stateAt(table, rv)
    // hit-file rewrite reads raw files — active DVs would resurrect
    requireNoDv(st, "merge", table)
    if (st.schemaJson.isEmpty)
      throw new IllegalStateException(
        s"merge into $table: the log holds only metadata commits — " +
          "bootstrap the table with append or applyChanges first")
    val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    // persisted: the distinct source keys drive the hit scan (bounds agg
    // + semi-join) AND all three CDF capture joins below — unpersisted,
    // the caller's source plan (arbitrary — often itself a join) would
    // re-evaluate per consumer, five times per MERGE (r18 opt)
    val srcKeys = source.select(keys.map(col): _*).distinct().persist()
    // segment timers (`bench-stage vt merge.<seg>`): a per-commit cost
    // regression names its segment, not just the op total
    val hitPaths = Stages.time("vt", "merge.hit-scan") {
      hitFilePaths(spark, table, st, schema, srcKeys, keys) }
    // conform hit rows to the LOG schema, not the hit files' physical
    // one: under schema evolution an old file lacks newer columns, and
    // merging against its raw shape would silently drop the source's
    // values for them (spec: "schema-evolved history")
    val raw =
      if (hitPaths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.read.option("mergeSchema", "true").parquet(
        hitPaths.map(p => new java.net.URI(p).getPath): _*)
    // persisted: the touched-file sliver feeds the merge join, the CDF
    // pre-image semi-join AND the hit-key set (evaluated twice more by
    // the old post/ins joins) — unpersisted, each consumer re-read the
    // hit parquet files end to end, four scans of the touched sliver
    // per MERGE (r18 opt; at scale the sliver is the expensive part)
    val hitRows = raw.select(schema.fields.map(f =>
      (if (raw.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType)).as(f.name)).toIndexedSeq: _*)
      .persist()
    // merge evolution must be REAL, not a comment: Upsert.merge projects
    // the TARGET's columns only, so a genuinely new source column would
    // silently vanish from the output (and the schema check below would
    // never see it). Pre-extend the hit rows with the source-only
    // columns as typed nulls — matched rows then take the source's
    // values, survivors keep null, and the commit records the evolved
    // schema (untouched files read the column as null via the lineage
    // union, Delta's autoMerge shape).
    val srcOnly = source.schema.fields
      .filterNot(f => schema.fieldNames.contains(f.name))
    val mergeTarget = srcOnly.foldLeft(hitRows)((df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType)))
    val merged = Upsert.merge(mergeTarget, source, keys, updateColumns)
    // the same write-time enforcement append has: a source whose shared
    // columns coerce to a different type (INT source vs BIGINT table —
    // Upsert.merge's when(...) widens silently) must fail HERE, not
    // poison the log. Genuinely NEW source columns remain legal (the
    // documented merge evolution path), hence mergeSchema = true.
    enforceAppendSchema(table, merged.schema, mergeSchema = true)
    // validate the MERGED rows, not the source: a partial-column update
    // (updateColumns) combines old and new values, and the combination
    // can violate a cross-column CHECK even when each input passes alone
    enforceConstraints(table, merged)
    val hitNames = hitPaths.map(p =>
      Paths.get(new java.net.URI(p).getPath).getFileName.toString)
    // file-count discipline: a surgical update is sized to the files it
    // touched (no per-merge fragmentation by shuffle-partition count); a
    // pure-insert merge (no hits) keeps its natural write parallelism
    val added = Stages.time("vt", "merge.write") { writeDataFiles(
      if (hitNames.nonEmpty) merged.coalesce(math.max(1, hitNames.size))
      else merged, table) }
    // change capture (CDF): pre-images come from the hit rows whose key
    // the source names; post-images and inserts are read BACK from the
    // just-written files (byte-identical to what landed, and no second
    // evaluation of the merge join) and split on whether the key existed
    val cdc =
      // an empty source writes nothing (added = Nil) and changes
      // nothing — skip capture rather than read zero parquet paths
      if (!cdfEnabled(st.props) || added.isEmpty) Nil
      else Stages.time("vt", "merge.cdf-capture") {
        val landed = spark.read.option("mergeSchema", "true").parquet(
          added.map(f => Paths.get(table, f).toString): _*)
        // keyJoin (null-safe <=>), like applyChanges' capture: NULL is
        // a real key value, and a plain column-name join never matches
        // it — a merge touching a NULL-keyed row would then write NO
        // envelope and every CDF consumer silently diverges
        val pre = keyJoin(hitRows, srcKeys, keys, "left_semi")
          .withColumn("_change_type", lit("update_preimage"))
        // post + ins in ONE pass: the touched landed rows LEFT-join the
        // (distinct) hit-key set with an explicit marker — a marked row
        // had a pre-image (update_postimage), an unmarked one did not
        // (insert). The old semi + anti pair computed the same split
        // while scanning `landed` and re-deriving the hit keys twice
        // each (r18 opt). The marker column must be explicit: the join
        // is null-safe, so a matched NULL key still leaves the right
        // key columns null — only the marker distinguishes the arms.
        // Marker named with the __graft_ placeholder prefix: a DATA
        // column "__hit" is legal and a bare name would be ambiguous.
        val ph = keys.indices.map(i => s"__graft_hk_$i")
        val hitKeysM = hitRows.select(keys.map(col): _*).distinct()
          .toDF(ph: _*).withColumn("__graft_hit", lit(true))
        val touched = keyJoin(landed, srcKeys, keys, "left_semi")
        val postIns = touched.join(hitKeysM,
            keys.zip(ph).map { case (k, p) =>
              touched(k) <=> hitKeysM(p) }.reduce(_ && _),
            "left")
          .withColumn("_change_type",
            when(col("__graft_hit"), lit("update_postimage"))
              .otherwise(lit("insert")))
          .drop(ph :+ "__graft_hit": _*)
        writeCdc(pre
          .unionByName(postIns, allowMissingColumns = true),
          table, hitNames.size)
      }
    // record the MERGED schema (a source can itself evolve the table —
    // the overwrite-based merge recorded the post-merge shape too)
    val mergeStats = Stages.time("vt", "merge.stats") {
      withSizes(table, added,
        computeStats(spark, table, added, trackedStatColumns(st))) }
    val mergeBlooms = Stages.time("vt", "merge.blooms") {
      computeBlooms(spark, table, added, trackedBloomColumns(table, st),
        0.03) }
    try Stages.time("vt", "merge.commit") {
      commitLoop(table, "merge", added, _ => hitNames, merged.schema.json,
        readVersion = Some(rv),
        // sticky indexing: the rewrite re-records whatever the table
        // tracks for its new files — skipping must not decay under MERGE
        stats = mergeStats,
        bloomAdd = mergeBlooms,
        revalidate = () => {
          enforceAppendSchema(table, merged.schema, mergeSchema = true)
          enforceConstraints(table, merged)
        },
        rebaseOverAdds = isolation == Isolation.WriteSerializable,
        cdcAdd = cdc)
    } finally {
      srcKeys.unpersist(blocking = false)
      hitRows.unpersist(blocking = false)
    }
  }

  /** File-granular DELETE: rewrite ONLY the files that contain matching
    * rows (identified via `_metadata.file_path`), keep the rest untouched.
    * On a selective predicate this touches a sliver of the table — the
    * 100 TB-shaped delete. */
  def deleteWhere(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column,
      isolation: Isolation = Isolation.WriteSerializable): Commit = {
    val rv = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no table at $table"))
    val preSt = stateAt(table, rv)
    // the survivor rewrite reads hit files RAW — running it over active
    // DVs would resurrect their deleted rows
    requireNoDv(preSt, "deleteWhere", table)
    val snap = snapshot(spark, table, Some(rv))
    val hitPaths = snap.filter(cond)
      .select(col("_metadata.file_path").as("fp")).distinct()
      .collect().map(_.getString(0)).toSeq // bounded by file count
    if (hitPaths.isEmpty)
      return commitLoop(table, "delete", Nil, _ => Nil, snap.schema.json,
        readVersion = Some(rv),
        rebaseOverAdds = isolation == Isolation.WriteSerializable)
    val hitNames = hitPaths.map(p => Paths.get(new java.net.URI(p).getPath)
      .getFileName.toString)
    // mergeSchema like every other mixed-lineage rewrite path
    // (deleteWhereDeferred/merge/applyChanges/compactSmallFiles): a hit
    // set spanning schema evolution would otherwise infer one footer's
    // schema and rewrite the other files' survivors WITHOUT their newer
    // columns — silent, permanent data loss.
    // Persisted when CDF is on: the survivor rewrite AND the delete-
    // envelope capture both consume it — one scan of the touched
    // sliver, not two (the deleteWhereDeferred rationale, r18 opt)
    val hitScan0 = spark.read.option("mergeSchema", "true")
      .parquet(hitPaths.map(p => new java.net.URI(p).getPath): _*)
    val hitScan =
      if (cdfEnabled(preSt.props)) hitScan0.persist() else hitScan0
    // SQL DELETE semantics: only rows where the predicate is TRUE go —
    // a NULL predicate keeps the row. (A bare `!cond` filter would drop
    // NULL-cond rows from the survivors, silently deleting them — and
    // disagreeing with [[deleteWhereDeferred]], whose DV entries come
    // from `filter(cond)` and so only ever name TRUE rows.)
    val survivors = hitScan.filter(!coalesce(cond, lit(false)))
    val added = writeDataFiles(survivors, table)
    // change capture (CDF): the deleted rows are exactly the TRUE-cond
    // rows of the hit files — one extra pass over the touched sliver
    val cdc =
      if (!cdfEnabled(preSt.props)) Nil
      else writeCdc(hitScan.filter(cond)
        .withColumn("_change_type", lit("delete")), table, hitNames.size)
    try commitLoop(table, "delete", added, _ => hitNames, snap.schema.json,
      readVersion = Some(rv),
      stats = withSizes(table, added,
        computeStats(spark, table, added, trackedStatColumns(preSt))),
      bloomAdd = computeBlooms(spark, table, added,
        trackedBloomColumns(table, preSt), 0.03),
      rebaseOverAdds = isolation == Isolation.WriteSerializable,
      cdcAdd = cdc)
    finally hitScan.unpersist(blocking = false)
  }

  /** RESTORE to `version` (Delta `RESTORE TABLE ... TO VERSION AS OF`):
    * a NEW commit whose file set is the old version's — history moves only
    * forward, the bad versions stay inspectable. Fails loudly if vacuum
    * already aged out any restored file. */
  def restore(spark: SparkSession, table: String, version: Long): Commit = {
    val rv = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no table at $table"))
    val st = stateAt(table, version)
    val (files, schema) = (st.files, st.schemaJson)
    (files ++ st.dv).find(f => !Files.exists(Paths.get(table, f))).foreach {
      f =>
        throw new IllegalStateException(
          s"cannot restore $table to $version: file $f was vacuumed")
    }
    // restore the DV state along with the file set: the target version's
    // sidecars come back, the current version's retire
    val cur = stateAt(table, rv)
    // carry the target state's FULL schema lineage: the re-added files
    // may span schema versions, and a lone schemaJson would let stateAt's
    // full-replacement reset collapse the lineage to one entry —
    // mergeSchema reads would then drop columns living only in older
    // files, and currentSchemaMap would forget their types
    commitLoop(table, "restore", files,
      _ => cur.files, schema, readVersion = Some(rv),
      dvAdd = st.dv, dvRemoveAt = _ => cur.dv.filterNot(st.dv.toSet),
      schemaLineage = st.schemas,
      // carry the target state's per-file STATS too: the replay removes
      // the retired files' entries, and without re-recording them here
      // the restored table would lose every min/max/null/size stat —
      // skipping goes dark AND trackedStatColumns turns empty, so
      // sticky indexing silently stops on all later writes
      stats = st.fileStats,
      // the restore's adds cover the whole live set, so stateAt RESETS
      // the bloom list — re-adding the target's sidecars restores its
      // point-lookup index along with its files
      bloomAdd = st.blooms)
  }

  /** OPTIMIZE-style compaction as a commit: coalesce the current snapshot
    * into `targetFiles` new files, retire the old ones. Time travel to
    * pre-compaction versions still works until vacuum.
    *
    * `clusterBy` with `zorder = false` range-partitions + locally sorts
    * on the columns lexicographically — perfect manifest pruning on the
    * LEADING column, none on the others. `zorder = true` (numeric
    * columns only) clusters on the interleaved-bit key instead
    * ([[graft.ext.Layout.zorderKey]], Delta's OPTIMIZE ZORDER BY): rows
    * close in EVERY dimension share files, so the recorded min/max
    * stats prune [[snapshotWhere]] on ANY of the clustered columns —
    * ~√-selective per dimension instead of all-or-nothing. */
  def compact(spark: SparkSession, table: String, targetFiles: Int,
      clusterBy: Seq[String] = Nil, statsFor: Seq[String] = Nil,
      zorder: Boolean = false,
      isolation: Isolation = Isolation.WriteSerializable,
      bloomFor: Seq[String] = Nil, bloomFpp: Double = 0.03,
      bloomMaxBytes: Option[Long] = None): Commit = {
    val rv = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no table at $table"))
    val base = snapshot(spark, table, Some(rv))
    // range-repartition + local sort so each output file owns a narrow
    // key range — exactly what makes the recorded min/max stats
    // selective for snapshotWhere pruning.
    val snap =
      if (clusterBy.isEmpty) base.coalesce(targetFiles)
      else if (zorder) {
        val keyed = graft.ext.Layout.zorderKey(base, clusterBy,
          keyCol = "__zkey")
        keyed.repartitionByRange(targetFiles, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey")
      }
      else base.repartitionByRange(targetFiles, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    val added = writeDataFiles(snap, table)
    // compact reads through snapshot(), which applies active deletion
    // vectors — the rewrite MATERIALIZES them, so the commit retires
    // every DV sidecar along with the old data files
    val preSt = stateAt(table, rv)
    commitLoop(table, "optimize", added, _ => preSt.files,
      snap.schema.json, readVersion = Some(rv),
      stats = withSizes(table, added, computeStats(spark, table, added,
        if (statsFor.nonEmpty) statsFor
        else if (clusterBy.nonEmpty)
          (clusterBy ++ trackedStatColumns(preSt)).distinct
        else trackedStatColumns(preSt))),
      bloomAdd = computeBlooms(spark, table, added,
        effectiveCols(bloomFor, trackedBloomColumns(table, preSt)),
        bloomFpp, bloomMaxBytes),
      dvRemoveAt = _ => preSt.dv,
      rebaseOverAdds = isolation == Isolation.WriteSerializable)
  }

  /** OPTIMIZE sized by bytes instead of a file count (the Delta
    * `maxFileSize` shape): target file count = ⌈live bytes /
    * targetBytes⌉, measured from the actual on-disk sizes of the
    * current snapshot's files — callers say "1 GiB files" once instead
    * of re-deriving a count as the table grows. Skips the rewrite
    * entirely (returns None) when the table already has that many files
    * or fewer, no clustering was requested, AND no deletion vectors are
    * active — OPTIMIZE on an optimized table must not rewrite 100 TB for
    * nothing, but active DVs force the rewrite: OPTIMIZE is the
    * materialization point that clears them and unblocks
    * merge/deleteWhere/applyChanges, so a maintenance job calling only
    * this entry point must never leave a table permanently DV-blocked. */
  def compactBySize(spark: SparkSession, table: String,
      targetBytes: Long = 1L << 30, clusterBy: Seq[String] = Nil,
      statsFor: Seq[String] = Nil, zorder: Boolean = false,
      isolation: Isolation = Isolation.WriteSerializable): Option[Commit] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val rv = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no table at $table"))
    val st = stateAt(table, rv)
    if (st.files.isEmpty) return None
    val totalBytes = st.files.map(f => Files.size(Paths.get(table, f))).sum
    val target = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
    if (clusterBy.isEmpty && st.files.size <= target && st.dv.isEmpty) None
    else Some(compact(spark, table, target.toInt, clusterBy, statsFor,
      zorder, isolation))
  }

  /** Coalesce ONLY the snapshot's SMALL files (< `smallBytes`, from the
    * manifest's recorded sizes — no filesystem stats for size-stats
    * commits) into ~`targetBytes` outputs, leaving well-sized files
    * untouched: the small-file maintenance a streaming ingest needs
    * (every micro-batch commit lands a few small files; a week of
    * 1-minute batches is ten thousand of them), WITHOUT the full-table
    * rewrite `compact` does — at 100 TB the difference is the whole job.
    * Commits as `optimize` (dataChange = false): a tailing stream never
    * re-serves the moved rows, the change feed skips it.
    *
    * Files covered by an active deletion vector are left alone (a raw
    * rewrite would resurrect their deleted rows; sidecars may also cover
    * untouched files, so they cannot be retired piecemeal) — the full
    * [[compact]] remains the DV materialization point. Returns None when
    * fewer than `minFiles` eligible small files exist. */
  def compactSmallFiles(spark: SparkSession, table: String,
      smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20,
      minFiles: Int = 8,
      isolation: Isolation = Isolation.WriteSerializable): Option[Commit] = {
    require(smallBytes > 0 && targetBytes > 0 && minFiles > 1,
      "smallBytes/targetBytes must be positive, minFiles > 1")
    val rv = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no table at $table"))
    val st = stateAt(table, rv)
    val dvCovered: Set[String] =
      if (st.dv.isEmpty) Set.empty
      else dvEntries(spark, table, st.dv).select(col("__dv_fn"))
        .distinct().collect().map(_.getString(0)).toSet
    def sizeOf(f: String): Long =
      st.fileStats.get(f).flatMap(_.get(BytesKey))
        .flatMap(b => scala.util.Try(b._1.toLong).toOption)
        .getOrElse(scala.util.Try(Files.size(Paths.get(table, f)))
          .getOrElse(Long.MaxValue))
    val small = st.files.filter(f =>
      !dvCovered.contains(f) && sizeOf(f) < smallBytes)
    if (small.size < minFiles) return None
    val bytes = small.map(sizeOf).sum
    val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val r = if (st.mixedSchemas) spark.read.option("mergeSchema", "true")
      else spark.read
    val merged = r
      .parquet(small.map(f => Paths.get(table, f).toString): _*)
      .coalesce(target)
    val added = writeDataFiles(merged, table)
    // schemaJson stays EMPTY: a partial rewrite must not touch the
    // schema lineage. Committing the merged subset's schema would
    // move-to-end it as the table's CURRENT schema — when the small
    // files predate an evolution, that silently regresses st.schemaJson
    // and every later merge/read keyed off it. (The full compact
    // rewrites the whole live set, so recording its schema is correct
    // there.) The rewritten file's columns are all in the lineage
    // already — they came from lineage-member files.
    Some(commitLoop(table, "optimize", added, _ => small,
      schemaJson = "", readVersion = Some(rv),
      // sticky indexing, same as every rewrite: the new files re-record
      // whatever the table tracks
      stats = withSizes(table, added,
        computeStats(spark, table, added, trackedStatColumns(st))),
      bloomAdd = computeBlooms(spark, table, added,
        trackedBloomColumns(table, st), 0.03),
      rebaseOverAdds = isolation == Isolation.WriteSerializable))
  }

  /** Table property enabling POST-APPEND auto-compaction (Delta's
    * autoCompact): when `true`, every append/appendIdempotent commit is
    * followed by an opportunistic [[compactSmallFiles]] pass —
    * best-effort, so a concurrent writer winning the race never fails
    * the append that triggered it. Thresholds tune through the
    * companion properties (defaults: 16 files / 32 MiB small /
    * 128 MiB target). */
  val AutoCompactProp = "graft.autoCompact"
  val AutoCompactMinFilesProp = "graft.autoCompact.minFiles"
  val AutoCompactSmallBytesProp = "graft.autoCompact.smallBytes"
  val AutoCompactTargetBytesProp = "graft.autoCompact.targetBytes"

  private def maybeAutoCompact(spark: SparkSession, table: String): Unit = {
    val props = properties(table)
    if (!props.get(AutoCompactProp).exists(_.trim.equalsIgnoreCase("true")))
      return
    def longProp(k: String, dflt: Long): Long =
      props.get(k).flatMap(s => scala.util.Try(s.trim.toLong).toOption)
        .getOrElse(dflt)
    try {
      compactSmallFiles(spark, table,
        smallBytes = longProp(AutoCompactSmallBytesProp, 32L << 20),
        targetBytes = longProp(AutoCompactTargetBytesProp, 128L << 20),
        minFiles = longProp(AutoCompactMinFilesProp, 16L).toInt)
      ()
    } catch {
      // opportunistic means OPPORTUNISTIC: the append that triggered
      // this pass already committed durably, so NOTHING here may fail
      // it — a lost slot race, a file a concurrent compact+vacuum just
      // retired, a transient Spark failure all just mean this pass
      // didn't happen; the next append tries again
      case scala.util.control.NonFatal(_) => ()
    }
  }

  /** GC data files that (a) are not referenced by the LATEST version and
    * (b) were retired longer than `retainMs` ago (judged by every commit
    * still referencing them being older than the horizon). Also sweeps
    * crash-orphaned `_tmp-*` staging dirs. Time travel beyond the horizon
    * dies with vacuum — the Delta retention contract. Returns files
    * removed. */
  def vacuum(table: String, retainMs: Long = 168L * 3600 * 1000,
      nowMs: Long = System.currentTimeMillis()): Int = {
    val vs = versions(table)
    if (vs.isEmpty) return 0
    val lastState = stateAt(table, vs.last)
    // DV sidecars are .parquet files too, and bloom sidecars are
    // `-bloom.json`: both count as live while the latest state references
    // them, and age out by lastSeen like data
    val live = (lastState.files ++ lastState.dv ++ lastState.blooms).toSet
    // retirement timestamp per file — stamped on CHANGE EVENTS (the
    // commit that removed the reference), not by re-stamping the whole
    // live set per commit: the latter is O(versions × live files) of
    // driver map writes (a 100k-commit log over 10k live files is ~10^9
    // ops), while events total O(adds + removes). Files still
    // referenced at the end are `live` and never consult lastSeen; a
    // removal stamp carries the REMOVING commit's ts — ≥ the old
    // "last state containing it" stamp, so retention only ever gets
    // more conservative. ONE forward replay of the commits (mirroring
    // stateAt's file/DV/bloom algebra); calling stateAt per version
    // would re-list the log and re-read a checkpoint V times.
    val lastSeen = scala.collection.mutable.Map.empty[String, Long]
    val rFiles = scala.collection.mutable.LinkedHashSet.empty[String]
    val rDv = scala.collection.mutable.LinkedHashSet.empty[String]
    val rBlooms = scala.collection.mutable.LinkedHashSet.empty[String]
    vs.foreach { v =>
      val c = parseCommit(versionFile(table, v))
      c.remove.foreach(f => if (rFiles.remove(f)) lastSeen(f) = c.ts)
      rFiles ++= c.add
      c.dvRemove.foreach(f => if (rDv.remove(f)) lastSeen(f) = c.ts)
      rDv ++= c.dvAdd
      if (c.add.nonEmpty && rFiles.forall(c.add.toSet.contains)) {
        // full replacement retires every prior bloom sidecar
        rBlooms.foreach(f => lastSeen(f) = c.ts)
        rBlooms.clear()
      }
      rBlooms ++= c.bloomAdd
      // change-data sidecars belong to their commit, never to a state:
      // without this they would look unreferenced and be GC'd instantly.
      // They age out by commit time like Delta's change files — a change
      // reader stalled past the retention window must restart anyway.
      c.cdcAdd.foreach(f => lastSeen(f) = c.ts)
    }
    var removed = 0
    val l = Files.list(Paths.get(table))
    try l.iterator().asScala.toSeq.foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("_tmp-") && Files.isDirectory(p) &&
        // inclusive, like the lastSeen check below: exactly-retainMs-old
        // is old enough (the strict form left a same-millisecond flake
        // at retainMs = 0)
        Files.getLastModifiedTime(p).toMillis <= nowMs - retainMs) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => Files.delete(f))
        finally walk.close()
        removed += 1
      } else if ((n.endsWith(".parquet") || n.endsWith("-bloom.json")) &&
        !live.contains(n) &&
        // INCLUSIVE boundary: a file retired exactly retainMs ago IS
        // retainMs old. Strict < made vacuum(retainMs = 0) skip a file
        // whose removing commit landed in the SAME millisecond as the
        // vacuum call — a once-in-a-quiet-host test flake (r18, full
        // suite: BloomSkipSpec's retire-then-vacuum ran sub-ms), and for
        // any real retention the boundary ms is immaterial
        lastSeen.get(n).forall(_ <= nowMs - retainMs) &&
        // a file NO commit ever referenced is either an orphan of a
        // failed write (GC it once old) or an IN-FLIGHT write racing
        // this vacuum (its commitLoop hasn't published yet — deleting it
        // now would poison the commit): age unreferenced files by mtime
        (lastSeen.contains(n) ||
          Files.getLastModifiedTime(p).toMillis <= nowMs - retainMs)) {
        Files.delete(p)
        removed += 1
      }
    } finally l.close()
    removed
  }

  /** Change feed between two versions (Delta CDF): key-matched diff
    * restricted to the files that actually CHANGED between the two
    * manifests. Emits `insert` / `delete` / `update_postimage` rows —
    * and, with `includePreimage`, an `update_preimage` row per update (the
    * Delta CDF shape; preimages are what make downstream aggregates
    * RETRACTABLE — see [[graft.ops.IncrementalAgg.applyChangeFeed]]).
    * Inserts/postimages carry the new values, deletes/preimages the old.
    *
    * Scale: the manifest diff turns the join from O(table) into
    * O(changed files). A row living in a file carried over by reference
    * cannot have changed, so only `from`'s removed files (the before
    * side) and `to`'s added files (the after side) are read and
    * key-joined — with file-granular writers ([[deleteWhere]],
    * [[applyChanges]]) that is the data that moved, a sliver of a
    * 100 TB table. Rows rewritten byte-identically into new files
    * (compaction, RESTORE) land in the join but are filtered as
    * unchanged — correct, merely costlier (O(rewritten files)).
    * Assumes `keys` identify rows uniquely (the merge-key contract):
    * a duplicate key straddling a carried and a changed file would
    * mis-classify. Both sides are conformed to the `to` version's
    * schema (missing columns read as null) so schema-evolved histories
    * diff cleanly. */
  def changeFeed(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String],
      includePreimage: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "change feed needs merge keys")
    val vs = versions(table)
    require(vs.contains(fromVersion), s"version $fromVersion not in log")
    require(vs.contains(toVersion), s"version $toVersion not in log")
    val stFrom = stateAt(table, fromVersion)
    val stTo = stateAt(table, toVersion)
    if (stTo.schemaJson.isEmpty)
      throw new IllegalStateException(
        s"changeFeed on $table: no data commits at or before version " +
          s"$toVersion (metadata-only log) — nothing to diff yet")
    val schema = DataType.fromJson(stTo.schemaJson).asInstanceOf[StructType]
    val fromSet = stFrom.files.toSet
    val toSet = stTo.files.toSet
    def conform(base: DataFrame): DataFrame =
      base.select(schema.fields.map(f =>
        (if (base.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType)).as(f.name)).toIndexedSeq: _*)
    // each side reads at ITS version's deletion-vector state: a row a DV
    // had already retired at `from` must not resurface as a delete when
    // its file is rewritten, and a row DV-retired by `to` must not
    // appear as an insert in a file added in the range
    def readSide(files: Seq[String], dv: Seq[String],
        mixed: Boolean): DataFrame = {
      if (files.isEmpty)
        return conform(spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema))
      val r = if (mixed) spark.read.option("mergeSchema", "true")
      else spark.read
      val base = r.parquet(files.map(f => Paths.get(table, f).toString): _*)
      conform(
        if (dv.isEmpty) base
        else dvJoin(base, dvEntries(spark, table, dv), "left_anti"))
    }
    val before = readSide(stFrom.files.filterNot(toSet), stFrom.dv,
      stFrom.mixedSchemas)
    val after = readSide(stTo.files.filterNot(fromSet), stTo.dv,
      stTo.mixedSchemas)
    val carried = stFrom.files.filter(toSet)
    val dataCols = after.columns.filterNot(keys.contains).toSeq
    // DV corrections over files CARRIED across the range — invisible to
    // the file diff, yet sidecars added in (from, to] retire rows in them
    // (pure deletes) and sidecars REMOVED in the range (RESTORE)
    // resurrect rows (pure inserts). The diff is ENTRY-level, not
    // sidecar-file-level: across a restore a fresh sidecar may re-cover
    // the exact (file, row) an old sidecar covered — logically identical
    // states whose sidecar file sets differ — and a file-level diff would
    // emit a phantom second delete. Only the carried files actually NAMED
    // by the diffed entries are read back (by position): O(touched
    // files), not O(carried files) — the sidecars themselves are
    // kilobytes, and the touched-file list is a driver-side collect of
    // file NAMES, same scaling class as the manifest itself.
    def dvCorrections(): Seq[DataFrame] = {
      if (carried.isEmpty || stTo.dv.toSet == stFrom.dv.toSet) return Nil
      val carriedDf = {
        import spark.implicits._
        carried.toDF("__cf")
      }
      def entriesOverCarried(dv: Seq[String]): DataFrame =
        dvEntries(spark, table, dv)
          .join(broadcast(carriedDf), col("__dv_fn") === col("__cf"),
            "left_semi")
      def entryDiff(a: Seq[String], b: Seq[String]): DataFrame =
        entriesOverCarried(a).join(
          broadcast(entriesOverCarried(b)
            .withColumnRenamed("__dv_fn", "__o_fn")
            .withColumnRenamed("__dv_ri", "__o_ri")),
          col("__dv_fn") === col("__o_fn") &&
            col("__dv_ri") === col("__o_ri"),
          "left_anti")
      // `entries` is evaluated twice (touched-file collect + semi-join)
      // — sidecars are kilobytes, recomputing beats a persist lifecycle
      def correction(entries: DataFrame, tpe: String): Option[DataFrame] = {
        val touched = entries.select("__dv_fn").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        if (touched.isEmpty) None
        else {
          val r = if (stTo.mixedSchemas || stFrom.mixedSchemas)
            spark.read.option("mergeSchema", "true")
          else spark.read
          val base = r.parquet(
            touched.map(f => Paths.get(table, f).toString): _*)
          Some(conform(dvJoin(base, entries, "left_semi"))
            .select((keys ++ dataCols).map(col): _*)
            .withColumn("_change_type", lit(tpe)))
        }
      }
      // deletes: entries at `to` absent at `from`; inserts: the reverse
      correction(entryDiff(stTo.dv, stFrom.dv), "delete").toSeq ++
        correction(entryDiff(stFrom.dv, stTo.dv), "insert").toSeq
    }
    // explicit presence markers (not key nullability): a legitimately NULL
    // key value must not masquerade as an absent row
    val b = before.select(before.columns.map(c =>
      col(c).as(s"__b_$c")).toIndexedSeq :+ lit(true).as("__b_present"): _*)
    val a = after.withColumn("__a_present", lit(true))
    val cond = keys.map(k => col(k) <=> col(s"__b_$k")).reduce(_ && _)
    val j = a.join(b, cond, "full_outer")
    val afterHere = col("__a_present").isNotNull
    val beforeHere = col("__b_present").isNotNull
    val changed = dataCols.map(c => !(col(c) <=> col(s"__b_$c")))
      .foldLeft(lit(false))(_ || _)
    def rowStruct(fromBefore: Boolean, tpe: String) = struct(
      keys.map(k => (if (fromBefore) col(s"__b_$k") else col(k)).as(k)) ++
        dataCols.map(c => (if (fromBefore) col(s"__b_$c") else col(c)).as(c)) :+
        lit(tpe).as("_change_type"): _*)
    val updateRows =
      if (includePreimage) array(rowStruct(fromBefore = true, "update_preimage"),
        rowStruct(fromBefore = false, "update_postimage"))
      else array(rowStruct(fromBefore = false, "update_postimage"))
    // unchanged rows fall to the null otherwise-branch; explode(null) = no rows
    val rows = when(afterHere && !beforeHere,
        array(rowStruct(fromBefore = false, "insert")))
      .when(!afterHere && beforeHere,
        array(rowStruct(fromBefore = true, "delete")))
      .when(afterHere && beforeHere && changed, updateRows)
    val diffed = j.select(explode(rows).as("__r")).select(col("__r.*"))
    dvCorrections().foldLeft(diffed)(_ unionByName _)
  }
}
