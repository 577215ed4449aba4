package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.v2bridge
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.sources.DataSkipping.{ColRange, FileStats}
import graft.sources.TxStore.RichPath

/** Minimal log-structured transactional table — the multi-writer seam
  * [[ParquetTable.overwriteAtomic]] deliberately leaves open (its
  * double-rename swap is correct but single-writer: two concurrent
  * mergers would silently drop one merge). The design is the public
  * Delta/Iceberg core reduced to what the engine needs:
  *
  *   - `_log/%020d.json` — one immutable manifest per version, holding
  *     the commit action (`overwrite` resets the live set, `append`
  *     extends it), the added data dirs, and the schema. The LOG is the
  *     table; data files are inert until a manifest references them.
  *   - `data/<uuid>/` — immutable parquet dirs, written ONCE, never
  *     mutated, never renamed. Snapshot isolation falls out: a reader
  *     (or a merge computing on snapshot v) references only v's dirs,
  *     which no later commit touches — no read lock, no swap window.
  *   - commit = publish manifest v+1 via an atomic create-if-absent
  *     (hard-link of a fully-written temp file — POSIX `link(2)` fails
  *     with EEXIST atomically, unlike `rename(2)` which silently
  *     replaces). Exactly ONE writer wins a version; losers observe the
  *     collision and retry against the new snapshot. This is the
  *     optimistic-concurrency protocol Delta documents for HDFS-like
  *     stores (on S3 the same role is played by a conditional PUT).
  *
  * Read-modify-write commits (merge / insert-ignore) recompute on the
  * fresh snapshot when they lose a race — the no-lost-update guarantee:
  * interleaved writers serialize as version order, each merge sees every
  * earlier merge's rows (spec-pinned by TxLogTableSpec's deterministic
  * interleave and threaded race). Blind appends reuse their staged data
  * dir and just re-bid for the next version.
  *
  * Scale shape: a commit is one manifest file regardless of data size;
  * readers plan from ≤ versions-since-checkpoint manifests (the
  * [[checkpoint]] action folds history, so the log never has to be
  * replayed from zero); data dirs are parquet read with an explicit
  * schema — partition-pruning/pushdown identical to a plain parquet
  * table. Reference behavior covered: the Postgres transactional
  * upserts at monthly_price_paid_data.py:140-160 and
  * pull_new_sales_list.py:252-264 (ON CONFLICT inside one txn) —
  * here as serialized optimistic commits over object storage.
  */
object TxLogTable {
  /** The deletion-vector FILE KEY of a scanned row: the last two path
    * segments ("dir/part-file") of `_metadata.file_path` — what the
    * sidecars store in `_dv_file`. `substring_index` (a backward char
    * scan) instead of a per-row regex: on a 10× DV-read sweep the
    * regex was a measurable per-row constant on every tag and
    * merge-on-read pass.
    */
  private[sources] def dvFileKey: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.substring_index(
      org.apache.spark.sql.functions.col("_metadata.file_path"), "/", -2)

  /** One log entry. `add` holds data-dir names relative to `data/`;
    * `action` is "overwrite" (live set := add) or "append" (live set
    * ++= add). `schemaJson` rides on every manifest so an empty or
    * vacuumed table still knows its schema. Top-level (not nested in
    * the class) so json4s can construct it reflectively.
    *
    * `stats` maps "dir/part-file" → per-file column ranges for the
    * dirs THIS manifest adds (data skipping — see [[DataSkipping]]);
    * absent for commits written without `statsCols`. `cdc` names the
    * dirs holding this commit's CHANGE rows (post-images) when they
    * differ from `add`: a merge's overwrite lists the whole new
    * snapshot in `add` but only the upserted keys' rows in `cdc`;
    * compaction/checkpoint carry `cdc = Some(Nil)` (no logical
    * change). `cdc = None` means `add` IS the change set — true for
    * appends, insert-ignores, and blind overwrites (full-refresh
    * post-image).
    *
    * `dv` is the COMPLETE list of deletion-vector dirs in effect for
    * this snapshot (each a staged dir whose parquet carries
    * `_dv_file`/`_dv_pos` rows naming deleted positions of immutable
    * data files — [[TxLogTable.deleteVectored]]). Replace semantics:
    * a manifest with `dv` defined sets the state; `None` inherits
    * from the previous manifest in the chain, and the chain's head
    * overwrite resets to empty unless it says otherwise (rewritten
    * files carry no ghosts).
    */
  /** `colMap` is the COLUMN-MAPPING manifest field (the Delta answer
    * to renames without rewrites): a partial map LOGICAL name →
    * PHYSICAL name, where physical names are what data files store
    * and NEVER change once assigned. Absent/empty = identity. A
    * rename updates only the logical side; every later commit carries
    * the full map forward (injected at the commit layer, like
    * `schemaJson`), so time travel reads each snapshot under the
    * mapping it was committed with.
    */
  /** `constraints` are the table's CHECK constraints (name → SQL
    * boolean expression over logical column names), carried forward on
    * every manifest like `colMap`; enforced inside the staging write
    * of every data-changing commit (SQL CHECK semantics: only FALSE
    * violates, NULL passes).
    */
  private[sources] case class Manifest(version: Long, action: String,
      add: Seq[String], schemaJson: String, tsMillis: Long,
      markers: Option[Map[String, String]] = None,
      stats: Option[Map[String, FileStats]] = None,
      cdc: Option[Seq[String]] = None,
      statsFile: Option[String] = None,
      dv: Option[Seq[String]] = None,
      colMap: Option[Map[String, String]] = None,
      constraints: Option[Map[String, String]] = None,
      copyFiles: Option[Seq[String]] = None,
      minReader: Option[Int] = None,
      droppedCols: Option[Seq[String]] = None,
      removed: Option[Seq[String]] = None)

  /** Protocol versioning (the Delta minReaderVersion idea): a manifest
    * whose correct interpretation REQUIRES a feature declares the
    * minimum reader protocol, and a reader that doesn't speak it
    * refuses loudly instead of silently mis-reading data (a pre-DV
    * reader would resurrect deleted rows; a pre-mapping reader would
    * read physical column names as if logical). Absent = 1 (base).
    * Version 2 adds deletion vectors; version 3 adds column mapping.
    * Write-side stamping is automatic at the [[tryCommit]] choke point
    * — feature presence, not caller discipline, decides the floor.
    * Version 4 adds dropped-column tombstones: an older LIBRARY could
    * read a dropped-column snapshot safely (the manifest schema no
    * longer names the column), but as a WRITER it would not know the
    * retired physical names and could commit a new column that
    * shadows one — old files would then resurrect the dropped data
    * under the new column. Readers and writers are the same library
    * here, so the reader floor is the guard.
    * Version 5 adds FILE-GRANULAR live entries (`add` items of the
    * form "dir/part-…parquet", written by predicate-scoped overwrite
    * — replaceWhere): pre-5 READS would still resolve them correctly
    * (a path is a path to the parquet reader), but a pre-5 VACUUM
    * reconciles at directory granularity and would delete a dir whose
    * files are still live — a data-loss hazard, so the floor guards
    * it.
    */
  private[sources] val SupportedReaderVersion: Int = 5

  /** Test hook: per-file stat entries the last planning fold
    * materialized on the DRIVER ([[statsSummaryAt]]/[[censusSplitAt]])
    * — pins that the scale arms stay bounded by groups+stragglers,
    * not file count.
    */
  @volatile private[graft] var lastPlanMaterialized: Int = -1

  /** Test hook: number of live files the last file-granular DML
    * commit actually REWROTE (touched set of [[classifyTouched]]) —
    * pins that MERGE/UPDATE/DELETE cost scales with the delta, not
    * the table. -1 until a DML commit runs.
    */
  @volatile private[graft] var lastDmlRewritten: Int = -1

  /** The change-type column of every CDC dir. */
  private[sources] val ChangeType = "_change_type"

  /** One leg of a routed write: where `when` holds, a row tagged
    * `changeType` (a null literal for the data leg) with `values`
    * overriding columns of the input row.
    */
  private[sources] final case class Leg(when: Column, changeType: Column,
      values: Map[String, Column] = Map.empty)

  /** What one commit staged and where its time went: part-files, rows
    * and on-disk bytes summed from the writers' commit messages (data
    * and change files alike), then the nanoseconds spent in the staging
    * writes, in folding the writers' per-file stats into the manifest's
    * keying, and in the manifest publish (every bid, won or lost).
    */
  final case class CommitMetrics(version: Long, action: String,
      files: Int, rows: Long, bytes: Long, writeNanos: Long,
      statsMergeNanos: Long, publishNanos: Long)

  @volatile private var lastMetrics: Option[CommitMetrics] = None

  /** Metrics of the most recent commit in this JVM. Only the last one
    * is kept, so memory stays bounded however many commits run.
    */
  def lastCommitMetrics: Option[CommitMetrics] = lastMetrics

  /** JVM-wide parsed-manifest cache. A published version file is
    * IMMUTABLE within one table lifetime — the commit protocol only
    * ever creates new versions, never rewrites one — so
    * `(root, version) → Manifest` is safe to share across table
    * instances and sessions; the win is one metadata round-trip
    * (getFileStatus + read) per manifest per JVM instead of per
    * TxLogTable construction, which on object stores is the dominant
    * cost of a snapshot plan. Bounded LRU (access-order) so a
    * long-lived driver over many tables stays flat.
    *
    * Version files are NOT immutable across table LIFETIMES: DROP
    * TABLE deletes `_log` and a re-CREATE at the same root writes a
    * fresh version 0 — a cached entry would then serve the dropped
    * table's manifest (old schema, add entries naming deleted dirs).
    * Two guards close that hole: (1) every lifecycle transition this
    * JVM performs purges the root ([[invalidateCachedRoot]] — called
    * by catalog DROP/RENAME and by [[ensureExists]] when it creates
    * version 0); (2) each entry carries the manifest file's
    * (modTime, length) store witness, and every TxLogTable INSTANCE
    * validates its FIRST cache hit against a fresh getFileStatus —
    * one extra metadata call per instance, so an out-of-band
    * recreation by another process is detected at the next table
    * handle instead of trusted forever.
    */
  /** Row counts of stats-checkpoint parquet files — immutable once
    * written, so cached forever: the scale-arm decision
    * ("does this snapshot cross the distributed-planning threshold?")
    * costs one footer-only count job per checkpoint per JVM instead
    * of one per plan.
    */
  private val ckptCountCache: java.util.Map[String, Long] =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Cached manifest plus its store witness (file modTime, length). */
  private[sources] final case class CachedManifest(m: Manifest,
      modTime: Long, len: Long)

  private val manifestCache: java.util.Map[(String, Long), CachedManifest] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), CachedManifest](
        1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), CachedManifest]): Boolean =
          size() > 8192
      })

  /** Drop every cached manifest (and checkpoint row count) of `root` —
    * the table-lifetime boundary: DROP TABLE / RENAME TABLE / a
    * CREATE that writes version 0 all mean previously-cached entries
    * for the root describe a DIFFERENT table. Matching is by the
    * exact root string the handles were constructed with (the
    * catalog always derives it the same way).
    */
  private[sources] def invalidateCachedRoot(root: String): Unit = {
    manifestCache.synchronized {
      val it = manifestCache.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == root) it.remove()
    }
    val ck = ckptCountCache.keySet().iterator()
    while (ck.hasNext) if (ck.next().startsWith(root)) ck.remove()
  }

  private[sources] def requiredReader(m: Manifest): Int =
    Seq(1,
      if (m.dv.exists(_.nonEmpty)) 2 else 1,
      if (m.colMap.exists(_.nonEmpty)) 3 else 1,
      if (m.droppedCols.exists(_.nonEmpty)) 4 else 1,
      if (m.add.exists(_.contains('/'))) 5 else 1).max

  /** One row of a PARQUET stats checkpoint (`_log/ckpt-*.parquet`,
    * referenced by [[Manifest.statsFile]]) — the Delta
    * checkpoint-parquet idea: per-file skipping stats ride a columnar
    * file Spark itself reads, so neither writing nor consulting them
    * ever driver-parses a JSON blob proportional to FILE COUNT.
    * `nullCounts` carries one entry per stats-bearing column (the
    * existence witness); `mins`/`maxs` omit a column only when every
    * value in the file is null ([[DataSkipping.ColRange]]'s None);
    * `blooms` holds Base64 Bloom filters as in [[FileStats.blooms]].
    */
  private[sources] case class CkptStatRow(file: String, rows: Long,
      mins: Map[String, String], maxs: Map[String, String],
      nullCounts: Map[String, Long], blooms: Map[String, String],
      thetas: Map[String, String])

  private[sources] def toCkptRow(file: String, fs: FileStats): CkptStatRow =
    CkptStatRow(file, fs.rows,
      fs.cols.collect { case (c, r) if r.min.isDefined => c -> r.min.get },
      fs.cols.collect { case (c, r) if r.max.isDefined => c -> r.max.get },
      fs.cols.map { case (c, r) => c -> r.nulls },
      fs.blooms, fs.thetas)

  private[sources] def fromCkptRow(r: CkptStatRow): (String, FileStats) =
    r.file -> FileStats(r.rows,
      r.nullCounts.map { case (c, n) =>
        c -> ColRange(r.mins.get(c), r.maxs.get(c), n)
      },
      r.blooms,
      // checkpoints written before the NDV-sketch field read as null
      Option(r.thetas).getOrElse(Map.empty))

  /** Widening type changes a real store must survive (Delta's type
    * widening): the declared order admits byte→short→int→long,
    * float→double, and integral→double.
    */
  private[sources] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    (from, to) match {
      case (f, t) if integral.contains(f) && integral.contains(t) =>
        integral.indexOf(f) < integral.indexOf(t)
      case (FloatType, DoubleType) => true
      case (f, DoubleType) if integral.contains(f) => true
      case _ => false
    }
  }

  /** One WHEN MATCHED clause of [[TxLogTable.mergeConditional]], in
    * evaluation order (first whose condition holds wins — the public
    * MERGE INTO contract). Conditions are SQL strings over the aliases
    * `t` (target snapshot row) and `s` (source row); `None` = always.
    */
  sealed trait MergeClause { def condition: Option[String] }
  /** Replace the target row with the source row's target-schema
    * projection when `condition` holds.
    */
  final case class MatchedUpdate(condition: Option[String] = None)
      extends MergeClause
  /** Drop the target row when `condition` holds. */
  final case class MatchedDelete(condition: Option[String] = None)
      extends MergeClause
}

final class TxLogTable(spark: SparkSession,
    private[graft] val root: String,
    owner: CommitOwner = null) {

  import TxLogTable.Manifest

  private implicit val fmts: Formats = DefaultFormats

  /** All store IO (manifests, stats checkpoints, DV dirs, pointers)
    * rides the Hadoop FileSystem resolved for `root`'s scheme under
    * the session's Hadoop conf — the same resolution Spark's own file
    * sources use, so the table lives wherever the deployment mounts
    * it (file:/hdfs://s3a://…).
    */
  private val (store, rootPath) =
    TxStore.forSpec(root, spark.sessionState.newHadoopConf())

  /** The atomic-publish owner, resolved LAZILY and only demanded by
    * COMMIT paths: explicit when the caller supplied one, else the
    * scheme's native primitive ([[CommitOwner.forStore]]), else the
    * conf-injected CAS owner ([[CommitOwner.configured]] — what the
    * SQL/catalog/`format("txlog")` surfaces use on object stores,
    * since they construct tables internally). None resolvable is NOT
    * an error here: a pure read of an `s3a://` table needs no commit
    * primitive at all — only the first commit attempt throws, with
    * the conf advice.
    */
  private lazy val pubOpt: Option[CommitOwner] =
    CommitOwner.resolveOption(owner, spark, store.fs)

  private def pub: CommitOwner = pubOpt.getOrElse(
    // surface the scheme-specific advice forStore would give
    CommitOwner.forStore(store.fs))

  private def logDir: Path = rootPath.resolve("_log")
  private def dataDir: Path = rootPath.resolve("data")
  private def manifestPath(v: Long): Path =
    logDir.resolve(f"$v%020d.json")

  def exists: Boolean = store.isDir(logDir) && currentVersion >= 0

  /** Latest committed version, or -1 for an empty log. */
  def currentVersion: Long =
    store.list(logDir).iterator
      .filter(_.endsWith(".json"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
      .foldLeft(-1L)(math.max)

  /** Create-if-absent (S7 semantics): version 0 = empty overwrite.
    * Losing the creation race to a concurrent creator is success.
    */
  def ensureExists(schema: StructType,
      markers: Map[String, String] = Map.empty): Unit = {
    store.mkdirs(logDir)
    store.mkdirs(dataDir)
    if (currentVersion < 0) {
      // a fresh version 0 starts a NEW table lifetime at this root —
      // cached manifests of any dropped predecessor must not survive
      TxLogTable.invalidateCachedRoot(root)
      tryCommit(0L, Manifest(0L, "overwrite", Nil, schema.json,
        System.currentTimeMillis(),
        markers = if (markers.isEmpty) None else Some(markers)))
      ()
    }
  }

  // ── snapshot reads ────────────────────────────────────────────────

  /** First-cache-hit witness check for this instance ([[TxLogTable
    * .invalidateCachedRoot]]'s out-of-band arm): validated lazily so
    * a table whose manifests all read fresh pays nothing.
    */
  @volatile private var cacheValidated: Boolean = false

  private def manifestAt(v: Long): Manifest = {
    val cached0 = TxLogTable.manifestCache.get((root, v))
    val cached =
      if (cached0 == null || cacheValidated) cached0
      else {
        // one getFileStatus per INSTANCE: a recreated table's version
        // file has a different (modTime, length) than the cached one,
        // so a stale lifetime is detected at the next table handle
        cacheValidated = true
        val p = manifestPath(v)
        val fresh =
          try {
            val st = store.fs.getFileStatus(p)
            st.getModificationTime == cached0.modTime &&
              st.getLen == cached0.len
          } catch { case _: java.io.IOException => false }
        if (fresh) cached0
        else { TxLogTable.invalidateCachedRoot(root); null }
      }
    val m = if (cached != null) cached.m else readManifest(v)
    // protocol guard (cheap, per call — SupportedReaderVersion is a
    // build constant, so guarding a cached manifest is identical)
    m.minReader.filter(_ > TxLogTable.SupportedReaderVersion).foreach { r =>
      throw new IllegalStateException(
        s"txlog table $root version $v requires reader protocol $r; " +
          s"this reader supports <= ${TxLogTable.SupportedReaderVersion}. " +
          "Upgrade the library to read this table.")
    }
    m
  }

  private def readManifest(v: Long): Manifest = {
    val p = manifestPath(v)
    // read-repair: a CAS-owned store may hold a claimed version whose
    // object copy didn't land (winner crash) — finish it before read.
    // Owner-less reads (object store, no conf) have nothing to repair
    // with; fall through to the loud version-missing require below.
    if (!store.exists(p)) pubOpt.foreach(_.recover(store.fs, p))
    require(store.exists(p), s"version $v does not exist in $root")
    val st = store.fs.getFileStatus(p)
    val bytes = store.readAllBytes(p)
    val m = Serialization.read[Manifest](
      new String(bytes, StandardCharsets.UTF_8))
    TxLogTable.manifestCache.put((root, v),
      TxLogTable.CachedManifest(m, st.getModificationTime, st.getLen))
    m
  }

  /** Manifests contributing to snapshot `v`, oldest-first: walk
    * BACKWARD to the nearest overwrite (or checkpoint — written as an
    * overwrite) so cost is O(appends-since-last-overwrite), not
    * O(history). The snapshot schema is the NEWEST manifest's (schema
    * evolution: later appends may widen it; old files read missing
    * columns as null).
    */
  private def manifestChainAt(v: Long): (List[Manifest], StructType) = {
    var chain = List.empty[Manifest]
    var schema: StructType = null
    var cur = v
    var done = false
    while (!done) {
      val m = manifestAt(cur)
      if (schema == null)
        schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      chain = m :: chain
      if (m.action == "overwrite" || cur == 0) done = true else cur -= 1
    }
    (chain, schema)
  }

  private def liveSetAt(v: Long): (Seq[String], StructType) = {
    val (chain, schema) = manifestChainAt(v)
    (chain.flatMap(_.add), schema)
  }

  // ── column mapping (rename / widen without rewrites) ──────────────

  /** Mapping in effect for a chain: the newest manifest carries the
    * full map (commit-layer injection), so the chain's LAST entry is
    * authoritative; pre-feature manifests read as identity.
    */
  private def colMapOf(chain: List[Manifest]): Map[String, String] =
    chain.last.colMap.getOrElse(Map.empty)

  /** Retired PHYSICAL names of dropped columns (commit-layer
    * carry-forward like `colMap`): data files still store them, so no
    * new logical column may ever claim one — old files would
    * resurrect the dropped data under the new column.
    */
  private def droppedOf(chain: List[Manifest]): Seq[String] =
    chain.last.droppedCols.getOrElse(Nil)

  private[graft] def droppedColsAt(v: Long): Set[String] =
    if (v < 0) Set.empty
    else manifestAt(v).droppedCols.getOrElse(Nil).toSet

  /** Physical read of explicit paths at a version's mapping, logical
    * names surfaced, deletion vectors NOT applied (the caller owns
    * that ordering) — the [[TxLogRelation]] pruned-scan seam.
    */
  private[sources] def readPathsAt(version: Long,
      paths: Seq[String]): DataFrame = {
    val (chain, schema) = manifestChainAt(version)
    val cmap = colMapOf(chain)
    val base = applyDv(
      spark.read.schema(physSchema(schema, cmap)).parquet(paths: _*),
      dvDirsOf(chain))
    if (cmap.isEmpty) base else base.toDF(schema.fieldNames: _*)
  }

  // ── COPY INTO (exactly-once file ingest) ──────────────────────────

  /** COPY INTO: ingest `format` files under `glob`, skipping every
    * file a prior copyInto already committed — the exactly-once
    * landing-zone pattern (re-running the same COPY after a crash, a
    * partial upload, or on a schedule never duplicates rows). Each
    * commit records its ingested file NAMES in the manifest
    * (`copyFiles`); the ingested set is the union across ALL versions,
    * so it survives overwrites, checkpoints, and restores (file-level
    * idempotency is about the files, not the table state). Data is
    * read under the TABLE's schema (missing columns land as null) and
    * rides the normal constraint-checked staged append. Returns the
    * new version (or the current one when every file was already in).
    *
    * Concurrency: two racing copyIntos serialize through the version
    * protocol — the loser recomputes the ingested set including the
    * winner's files and skips them.
    */
  def copyInto(glob: String, format: String = "parquet",
      options: Map[String, String] = Map.empty,
      maxRetries: Int = 20): Long = {
    val files = RangedIo.listFiles(spark, glob).map(_._1)
    commitLoop(maxRetries) { v =>
      require(v >= 0,
        s"copyInto needs an existing table (ensureExists first): $root")
      val done: Set[String] = copiedFilesAt(v)
      val fresh = files.filterNot(done)
      if (fresh.isEmpty) None // pure replay: no-op commit
      else {
        val schema = manifestChainAt(v)._2
        val df = spark.read.format(format).options(options)
          .schema(schema).load(fresh: _*)
        val staged = stage(df, checkConstraints = true).dir
        Some(Manifest(0L, "append", Seq(staged), schema.json,
          System.currentTimeMillis(),
          markers = Some(Map("copy_into" -> fresh.size.toString)),
          copyFiles = Some(fresh)))
      }
    }
  }

  /** The ingested-file census — what a re-run of copyInto would skip. */
  def copiedFiles: Set[String] = {
    val v = currentVersion
    if (v < 0) Set.empty else copiedFilesAt(v)
  }

  /** Ingested-file union at version `v`: walk BACKWARD accumulating
    * each manifest's `copyFiles` until the newest fold point — a
    * [[checkpoint]] carries the accumulated union forward (marker
    * `copy_fold`, like `colMap`/`constraints` carry their state) — so
    * the driver cost is O(commits-since-last-checkpoint), not
    * O(history), and old manifests may be archived once a checkpoint
    * covers them. Pre-fold tables walk to version 0, the original
    * semantics (the union is over ALL versions: file-level idempotency
    * survives overwrites, restores, and replays by design).
    */
  private def copiedFilesAt(v: Long): Set[String] = {
    val out = Set.newBuilder[String]
    var cur = v
    var done = false
    while (!done && cur >= 0) {
      if (store.exists(manifestPath(cur))) {
        val m = manifestAt(cur)
        out ++= m.copyFiles.getOrElse(Nil)
        if (m.markers.exists(_.contains("copy_fold"))) done = true
      }
      cur -= 1
    }
    out.result()
  }

  // ── CHECK constraints ─────────────────────────────────────────────

  private[sources] def constraintsAt(v: Long): Map[String, String] =
    if (v < 0) Map.empty
    else manifestAt(v).constraints.getOrElse(Map.empty)

  /** ADD CONSTRAINT name CHECK (expr) — metadata-only commit. The
    * EXISTING table must already satisfy the constraint (one
    * fail-fast scan), matching Delta's contract: a constraint never
    * lies about the rows behind it.
    */
  def addConstraint(name: String, sqlExpr: String,
      maxRetries: Int = 20): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name '$name' must be a plain identifier")
    commitLoop(maxRetries) { v =>
      require(v >= 0, s"cannot add a constraint on an uncommitted table $root")
      val (chain, schema) = manifestChainAt(v)
      val existing = chain.last.constraints.getOrElse(Map.empty)
      require(!existing.contains(name), s"constraint '$name' already exists")
      // every referenced column must exist in the CURRENT logical
      // schema — without this, enforce()'s null-padding (which exists
      // for legally-evolved batches) would let a typo'd column name
      // create a constraint that never enforces anything, silently
      val unknown = referencedColumns(sqlExpr).filterNot(c =>
        schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(unknown.isEmpty,
        s"constraint '$name' references unknown column(s) " +
          s"${unknown.toSeq.sorted.mkString(", ")} — schema is " +
          schema.fieldNames.mkString(", "))
      // validate the expression parses AND the current rows pass
      val cur = readAt(v)
      enforce(cur, Map(name -> sqlExpr)).foreach(_ => ())
      Some(Manifest(0L, "append", Nil, schema.json,
        System.currentTimeMillis(),
        markers = Some(Map("alter" -> s"add constraint $name")),
        cdc = Some(Nil),
        constraints = Some(existing + (name -> sqlExpr))))
    }
  }

  /** DROP CONSTRAINT — metadata-only commit; unknown names reject. */
  def dropConstraint(name: String, maxRetries: Int = 20): Long =
    commitLoop(maxRetries) { v =>
      require(v >= 0, s"no committed version in $root")
      val (chain, schema) = manifestChainAt(v)
      val existing = chain.last.constraints.getOrElse(Map.empty)
      require(existing.contains(name), s"no constraint '$name'")
      Some(Manifest(0L, "append", Nil, schema.json,
        System.currentTimeMillis(),
        markers = Some(Map("alter" -> s"drop constraint $name")),
        cdc = Some(Nil),
        constraints = Some(existing - name)))
    }

  /** Single-part column names a constraint expression references —
    * what [[addConstraint]] validates against the schema and
    * [[renameColumn]] guards (a rename must not silently orphan a
    * live CHECK: the null-padding in [[enforce]] would otherwise
    * disable it forever while it still looked active).
    */
  private def referencedColumns(sqlExpr: String): Set[String] =
    (try spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 => a.name
    } catch { case scala.util.control.NonFatal(_) => Nil }).toSet

  /** Weave fail-fast CHECK enforcement into a frame: each row
    * evaluates every constraint inside the SAME job that writes it
    * (single pass, no extra action) — `assert_true` throws with the
    * constraint's name and expression on the first FALSE; NULL passes
    * (SQL CHECK semantics). Returns the frame unchanged when no
    * constraints are live.
    */
  private def enforce(df: DataFrame,
      constraints: Map[String, String],
      exemptChanges: Boolean = false): DataFrame = {
    if (constraints.isEmpty) return df
    import org.apache.spark.sql.functions.{assert_true, coalesce => sqlCoalesce, col, expr, lit}
    // an evolved batch may legally OMIT columns a constraint references
    // (they land as null, and SQL CHECK passes on NULL) — null-pad them
    // so the expression resolves instead of failing analysis
    val referenced: Set[String] =
      constraints.values.flatMap(referencedColumns).toSet
    val missing = referenced.filterNot(c =>
      df.columns.exists(_.equalsIgnoreCase(c)))
    val base = missing.foldLeft(df)((d, c) => d.withColumn(c, lit(null)))
    val checked = constraints.foldLeft(base) { case (d, (name, sql)) =>
      val ok = sqlCoalesce(expr(sql), lit(true))
      // a routed write's change rows are not data: only its
      // null-tagged rows must pass
      d.withColumn(s"__check_$name",
        assert_true(
          if (exemptChanges) ok || col(TxLogTable.ChangeType).isNotNull
          else ok,
          lit(s"CHECK constraint '$name' violated: $sql")))
    }
    // the filter keeps every row (assert_true yields NULL on pass) and
    // pins the check columns into the executed plan
    val kept = constraints.keys.foldLeft(checked) { (d, name) =>
      d.filter(d.col(s"__check_$name").isNull)
    }
    kept.select(df.columns.map(kept.col).toIndexedSeq: _*)
  }

  private[graft] def colMapAt(v: Long): Map[String, String] =
    if (v < 0) Map.empty else manifestAt(v).colMap.getOrElse(Map.empty)

  private def currentColMap: Map[String, String] = colMapAt(currentVersion)

  /** The physical (on-file) twin of a logical schema. */
  private def physSchema(schema: StructType,
      cmap: Map[String, String]): StructType =
    if (cmap.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))

  /** Read data dirs under the physical schema and surface LOGICAL
    * names — the one choke point every snapshot/CDC/staged-readback
    * path funnels through. The rename is positional (`toDF`), a bare
    * Project that predicate pushdown crosses freely.
    */
  private def readPhysical(paths: Seq[String], schema: StructType,
      cmap: Map[String, String]): DataFrame = {
    val df = spark.read.schema(physSchema(schema, cmap))
      .parquet(paths: _*)
    if (cmap.isEmpty) df else df.toDF(schema.fieldNames: _*)
  }

  /** Rewrite LOGICAL column references in a pushdown/skipping
    * expression to their physical names (stats and checkpoint rows
    * are keyed by what the files store).
    */
  private def toPhysicalExpr(e: org.apache.spark.sql.catalyst.expressions.Expression,
      cmap: Map[String, String]): org.apache.spark.sql.catalyst.expressions.Expression =
    if (cmap.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 && cmap.contains(a.name) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(cmap(a.name)))
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if cmap.contains(a.name) =>
        a.withName(cmap(a.name))
    }

  /** Rename a column WITHOUT rewriting data (metadata-only commit):
    * the column keeps its stable physical name in every file; only
    * the logical schema and the mapping change. Old snapshots time-
    * travel under their own mapping. The retired logical name may be
    * reused by a later rename but a NEW column may not shadow a
    * retired physical name (files could no longer tell them apart) —
    * [[evolveSchema]] rejects that loudly.
    */
  def renameColumn(oldName: String, newName: String,
      maxRetries: Int = 20): Long = {
    commitLoop(maxRetries) { v =>
      require(v >= 0, s"cannot rename on an uncommitted table $root")
      val (chain, schema) = manifestChainAt(v)
      val cmap = colMapOf(chain)
      val field = schema.fields.find(_.name == oldName).getOrElse(
        throw new IllegalArgumentException(
          s"rename: no column '$oldName' in ${schema.fieldNames.mkString(",")}"))
      require(!schema.fieldNames.contains(newName),
        s"rename: column '$newName' already exists")
      // a live CHECK constraint referencing the old name must block the
      // rename (Delta's behavior): after it, enforce() would null-pad
      // the vanished name and NULL passes SQL CHECK — the constraint
      // would be silently disabled while still looking active
      val blocking = chain.last.constraints.getOrElse(Map.empty).filter {
        case (_, sql) =>
          referencedColumns(sql).exists(_.equalsIgnoreCase(oldName))
      }
      require(blocking.isEmpty,
        s"cannot rename '$oldName': CHECK constraint(s) " +
          s"${blocking.keys.toSeq.sorted.mkString(", ")} reference it — " +
          "drop and re-add them under the new name in separate commits")
      require(!droppedOf(chain).exists(_.equalsIgnoreCase(newName)),
        s"rename: '$newName' is the retired physical name of a DROPPED " +
          "column still stored in data files (pick another name)")
      val physical = cmap.getOrElse(oldName, oldName)
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val newMap = (cmap - oldName) + (newName -> physical)
      Some(Manifest(0L, "append", Nil, newSchema.json,
        System.currentTimeMillis(),
        markers = Some(Map("alter" -> s"rename $oldName -> $newName")),
        cdc = Some(Nil), colMap = Some(newMap)))
    }
  }

  /** Widen a column's type WITHOUT rewriting data (metadata-only
    * commit). Old files keep the narrow physical type; Spark's
    * parquet reader up-casts them under the wider read schema (native
    * in 4.x), and new files are written wide. Narrowing or unrelated
    * changes are rejected — silent coercion is how a corpus store
    * rots.
    */
  def widenColumn(name: String,
      to: org.apache.spark.sql.types.DataType,
      maxRetries: Int = 20): Long = {
    commitLoop(maxRetries) { v =>
      require(v >= 0, s"cannot widen on an uncommitted table $root")
      val (chain, schema) = manifestChainAt(v)
      val field = schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"widen: no column '$name' in ${schema.fieldNames.mkString(",")}"))
      require(TxLogTable.widens(field.dataType, to),
        s"widen: ${field.dataType.simpleString} -> ${to.simpleString} " +
          "is not a widening")
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f))
      Some(Manifest(0L, "append", Nil, newSchema.json,
        System.currentTimeMillis(),
        markers = Some(Map("alter" ->
          s"widen $name ${field.dataType.simpleString} -> ${to.simpleString}")),
        cdc = Some(Nil), colMap = colMapOf(chain) match {
          case m if m.isEmpty => None
          case m => Some(m)
        }))
    }
  }

  /** ADD COLUMN as a METADATA-ONLY commit (the ALTER TABLE twin of
    * append-time additive evolution): the schema gains a nullable
    * column, no file is touched, existing rows read it as null — the
    * same null-padding every evolved append already relies on. Same
    * guards as [[evolveSchema]]: no collision with a live logical
    * name, and never shadowing a renamed column's stable physical
    * name (files could no longer tell the two apart).
    */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType,
      maxRetries: Int = 20): Long = {
    commitLoop(maxRetries) { v =>
      require(v >= 0, s"cannot add a column on an uncommitted table $root")
      val (chain, schema) = manifestChainAt(v)
      require(!schema.fields.exists(_.name.equalsIgnoreCase(name)),
        s"add column: '$name' already exists")
      val cmap = colMapOf(chain)
      require(!cmap.values.exists(_.equalsIgnoreCase(name)),
        s"add column: '$name' is the physical identity of a renamed " +
          "column (pick another name)")
      require(!droppedOf(chain).exists(_.equalsIgnoreCase(name)),
        s"add column: '$name' is the retired physical name of a " +
          "DROPPED column still stored in data files (pick another name)")
      val newSchema = StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true))
      Some(Manifest(0L, "append", Nil, newSchema.json,
        System.currentTimeMillis(),
        markers = Some(Map("alter" ->
          s"add $name ${dataType.simpleString}")),
        cdc = Some(Nil), colMap = cmap match {
          case m if m.isEmpty => None
          case m => Some(m)
        }))
    }
  }

  /** DROP COLUMN as a METADATA-ONLY commit (the column-mapping twin of
    * [[renameColumn]]): the logical schema loses the field, no file is
    * rewritten — old files keep the physical column, but no current
    * read ever requests it ([[readPhysical]] projects only live
    * logical fields). Time travel still serves pre-drop snapshots
    * with the column (each manifest carries its own schema). The
    * retired PHYSICAL name is tombstoned in the manifest
    * (`droppedCols`, carried forward like `colMap`): a later ADD
    * COLUMN / evolved append / rename may never claim it, or old
    * files would resurrect the dropped data under the new column.
    * Guards mirror [[renameColumn]]: a live CHECK constraint
    * referencing the column blocks the drop (enforce()'s null-padding
    * would silently disable it), and the last column cannot be
    * dropped. Manifests carrying tombstones require reader protocol 4
    * — older library versions refuse the table instead of committing
    * a shadowing column they cannot know about.
    */
  def dropColumn(name: String, maxRetries: Int = 20): Long = {
    commitLoop(maxRetries) { v =>
      require(v >= 0, s"cannot drop a column on an uncommitted table $root")
      val (chain, schema) = manifestChainAt(v)
      require(schema.fields.exists(_.name == name),
        s"drop: no column '$name' in ${schema.fieldNames.mkString(",")}")
      require(schema.fields.length > 1,
        s"cannot drop '$name': a table must keep at least one column")
      val blocking = chain.last.constraints.getOrElse(Map.empty).filter {
        case (_, sql) =>
          referencedColumns(sql).exists(_.equalsIgnoreCase(name))
      }
      require(blocking.isEmpty,
        s"cannot drop '$name': CHECK constraint(s) " +
          s"${blocking.keys.toSeq.sorted.mkString(", ")} reference it — " +
          "drop them first in separate commits")
      val cmap = colMapOf(chain)
      val physical = cmap.getOrElse(name, name)
      val newSchema = StructType(schema.fields.filterNot(_.name == name))
      Some(Manifest(0L, "append", Nil, newSchema.json,
        System.currentTimeMillis(),
        markers = Some(Map("alter" -> s"drop $name")),
        cdc = Some(Nil),
        colMap = Some(cmap - name),
        droppedCols = Some((droppedOf(chain) :+ physical).distinct.sorted)))
    }
  }

  // ── deletion vectors ──────────────────────────────────────────────

  private def dvReadSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("_dv_file",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("_dv_pos",
      org.apache.spark.sql.types.LongType, nullable = true)))

  /** Deletion-vector dirs in effect for a chain: the LAST manifest
    * that declares `dv` wins; none declared = none in effect (the
    * chain's head overwrite implicitly reset them).
    */
  private def dvDirsOf(chain: List[Manifest]): Seq[String] =
    chain.reverse.collectFirst { case m if m.dv.isDefined => m.dv.get }
      .getOrElse(Nil)

  private[graft] def dvDirsAt(version: Long): Seq[String] =
    dvDirsOf(manifestChainAt(version)._1)

  /** The merge-on-read half of [[deleteVectored]]: anti-join a
    * file-scan frame against the snapshot's deletion vectors on
    * (containing file, row position) — both derived from the scan's
    * `_metadata` columns, so the filter composes with ANY projection
    * or pushed predicate Spark applied to `base`. The DV side is
    * deleted-rows-sized; AQE broadcasts it when small, which is the
    * point-delete case the mechanism exists for.
    */
  private[sources] def applyDv(base: DataFrame,
      dvDirs: Seq[String]): DataFrame = {
    if (dvDirs.isEmpty) return base
    import org.apache.spark.sql.functions.col
    val dv = spark.read.schema(dvReadSchema)
      .parquet(dvDirs.map(d => dataDir.resolve(d).toString): _*)
      .select(col("_dv_file").as("__del_file"),
        col("_dv_pos").as("__del_pos"))
    val tagged = base
      .withColumn("__row_file", TxLogTable.dvFileKey)
      .withColumn("__row_pos", col("_metadata.row_index"))
    tagged.join(dv,
        tagged("__row_file") === dv("__del_file") &&
          tagged("__row_pos") === dv("__del_pos"), "left_anti")
      .drop("__row_file", "__row_pos")
  }

  /** Time-travel read: the table exactly as committed at `version`.
    * Immutable data dirs make this a plain parquet read of that
    * snapshot's file list — later commits cannot disturb it — with
    * the snapshot's deletion vectors applied on top (merge-on-read).
    */
  def readAt(version: Long): DataFrame = {
    val (chain, schema) = manifestChainAt(version)
    val dirs = chain.flatMap(_.add)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      readPathsAt(version, dirs.map(d => dataDir.resolve(d).toString))
  }

  /** Snapshot read at the latest version. */
  def read(): DataFrame = readAt(currentVersion)

  /** Schema of snapshot `version` — one manifest-chain walk, no data
    * access. The [[TxLogSourceProvider]] relation needs it at planning
    * time, before any scan runs.
    */
  def schemaAt(version: Long): StructType = manifestChainAt(version)._2

  /** Latest version committed at or before `tsMillis` (Delta's
    * TIMESTAMP AS OF): one manifest-header walk, no data access.
    * Rejects timestamps before the table existed.
    */
  def versionAsOf(tsMillis: Long): Long = {
    val cv = currentVersion
    require(cv >= 0, s"no committed version in $root")
    var v = cv
    while (v >= 0 && manifestAt(v).tsMillis > tsMillis) v -= 1
    require(v >= 0,
      s"timestamp $tsMillis predates the table's first commit in $root")
    v
  }

  /** Snapshot read as of a wall-clock timestamp. */
  def readAsOf(tsMillis: Long): DataFrame = readAt(versionAsOf(tsMillis))

  // ── data-skipping reads ───────────────────────────────────────────

  /** The paths a pruned read of snapshot `version` under `filter`
    * would scan: dirs without manifest stats are kept whole; dirs
    * WITH stats are expanded to the individual part-files whose
    * ranges could satisfy the predicate. Exposed to the spec so
    * pruning EFFECTIVENESS (not just correctness) is pinned.
    */
  private[graft] def scanPathsAt(version: Long,
      filter: Column): Seq[String] = {
    val (chain, schema0) = manifestChainAt(version)
    val cmap = colMapOf(chain)
    val schema = physSchema(schema0, cmap) // stats are keyed physically
    val stats: Map[String, FileStats] =
      chain.flatMap(_.stats.getOrElse(Map.empty)).toMap
    val live = chain.flatMap(_.add)
    val filterExpr = toPhysicalExpr(
      org.apache.spark.sql.graft.bridge.catalystExpression(filter), cmap)
    // dirs whose stats live in a parquet checkpoint prune DISTRIBUTED
    // (one small Spark job over the stat rows); the driver sees only
    // the covered-dir census and the surviving file names. Lazy: a
    // chain with no checkpoint (or a filter arriving before any
    // checkpointed dir is consulted) never runs the job.
    lazy val ckpt: Option[(Set[String], Set[String])] =
      chain.flatMap(_.statsFile).lastOption
        .map(name => pruneCkpt(name, schema, filterExpr))
    live.flatMap { d =>
      // FILE-granular live entry (replaceWhere kept-file): prune by
      // its own stats row; dir entries keep the per-dir walk below
      if (d.contains("/")) stats.get(d) match {
        case Some(fs) =>
          if (DataSkipping.mayMatch(filterExpr, schema, fs))
            Seq(dataDir.resolve(d).toString)
          else Nil
        case None => ckpt match {
          case Some((covered, surviving))
              if covered(d.takeWhile(_ != '/')) =>
            if (surviving(d)) Seq(dataDir.resolve(d).toString) else Nil
          case _ => Seq(dataDir.resolve(d).toString)
        }
      }
      else {
        val inDir = stats.collect {
          case (k, fs) if k.startsWith(d + "/") => (k, fs)
        }
        if (inDir.nonEmpty) inDir.collect {
          case (k, fs) if DataSkipping.mayMatch(filterExpr, schema, fs) =>
            dataDir.resolve(k).toString
        }.toSeq
        else ckpt match {
          case Some((covered, surviving)) if covered(d) =>
            surviving.iterator.filter(_.startsWith(d + "/"))
              .map(k => dataDir.resolve(k).toString).toSeq
          case _ => Seq(dataDir.resolve(d).toString)
        }
      }
    }
  }

  /** Stats-pruned snapshot read: skip every file whose manifest
    * ranges PROVE it cannot satisfy `filter`, then re-apply the full
    * filter — pruning can only skip work, never change the result.
    * Files from commits without stats are scanned normally.
    */
  def readWhereAt(version: Long, filter: Column): DataFrame = {
    val (_, schema) = manifestChainAt(version)
    val paths = scanPathsAt(version, filter)
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .filter(filter)
    else
      readPathsAt(version, paths).filter(filter)
  }

  /** Stats-pruned read at the latest version. */
  def readWhere(filter: Column): DataFrame =
    readWhereAt(currentVersion, filter)

  /** TABLE-level statistics of snapshot `version`, aggregated from the
    * per-file skipping stats — the CBO surface
    * ([[TxLogRelation.catalogTableWithStats]]): `Some((rowCount,
    * colRanges))` only when EVERY live parquet file carries stats
    * (inline manifest stats, or rows of the chain's parquet
    * checkpoint), so the numbers are exact, never extrapolated.
    * Column ranges are keyed by LOGICAL name and emitted only for
    * columns covered in every file (a column absent from a file's
    * stats is ambiguous between "not a statsCol that commit" and
    * "schema-evolved null" — conservatively skipped). One driver
    * metadata walk (same O(#files) as `sizeInBytes`) plus, when a
    * checkpoint holds the stats, one small parquet read of the stat
    * rows.
    */
  /** Union the per-file NDV sketches of one column; None unless every
    * file carries one (a partial union would under-count).
    */
  private def unionNdv(files: Seq[String], all: Map[String, FileStats],
      physCol: String): Option[Long] = {
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.{CompactSketch, SetOperation}
    val sketches = files.map(f => all(f).thetas.get(physCol))
    if (sketches.exists(_.isEmpty)) None
    else {
      val u = SetOperation.builder().setLogNominalEntries(9).buildUnion()
      sketches.flatten.foreach(b64 => u.union(CompactSketch.heapify(
        Memory.wrap(java.util.Base64.getDecoder.decode(b64)))))
      Some(math.round(u.getResult.getEstimate))
    }
  }

  /** Live part-files of a snapshot with their per-file skipping stats
    * — Some only when EVERY live file is covered (inline manifest
    * stats or checkpoint-folded rows): exactness over coverage, the
    * same refusal contract [[statsSummaryAt]] has always had.
    */
  private def liveFileStatsAt(version: Long)
      : Option[(Seq[String], Map[String, FileStats])] =
    fileStatsSplitAt(version).flatMap { case (files, all, uncovered) =>
      if (uncovered.nonEmpty) None else Some((files, all))
    }

  /** Like [[liveFileStatsAt]] but WITHOUT the all-or-nothing refusal:
    * `(coveredFiles, stats, uncoveredFiles)` where uncovered files
    * simply carry no skipping stats (a commit written without
    * `statsCols`). The HYBRID census consumes this split — census the
    * covered side, scan only the uncovered. None only when a live dir
    * is missing on disk (the error path the real scan surfaces).
    */
  private[graft] def fileStatsSplitAt(version: Long)
      : Option[(Seq[String], Map[String, FileStats], Seq[String])] = {
    val (chain, _) = manifestChainAt(version)
    val live = chain.flatMap(_.add)
    if (live.isEmpty) return Some((Nil, Map.empty, Nil))
    val inline: Map[String, FileStats] =
      chain.flatMap(_.stats.getOrElse(Map.empty)).toMap
    val liveFiles: Seq[String] = live.flatMap { d =>
      if (d.contains("/")) Seq(d) // file-granular entry IS the file
      else {
        val dir = dataDir.resolve(d)
        if (!store.isDir(dir)) return None
        store.list(dir).filter(_.endsWith(".parquet")).map(f => s"$d/$f")
      }
    }
    val all: Map[String, FileStats] =
      if (liveFiles.forall(inline.contains)) inline
      else chain.flatMap(_.statsFile).lastOption match {
        case None => inline
        case Some(name) =>
          import spark.implicits._
          val template = Seq.empty[TxLogTable.CkptStatRow].toDS()
          val ckpt = spark.read.schema(template.schema)
            .parquet(ckptPath(name).toString)
            .as[TxLogTable.CkptStatRow]
            .collect().map(TxLogTable.fromCkptRow).toMap
          ckpt ++ inline
      }
    val (covered, uncovered) = liveFiles.partition(all.contains)
    Some((covered, all, uncovered))
  }

  /** Store path of a live part-file key ("dir/part-file"). */
  private[sources] def dataFilePath(key: String): String =
    dataDir.resolve(key).toString

  // ── touched-file DML classification (file-granular copy-on-write) ──

  /** Split of a snapshot's live set under a may-touch predicate: the
    * entries a DML commit carries forward VERBATIM (protocol-v5
    * file-granular where a dir splits, dir-granular where it survives
    * whole) versus the store paths whose rows the rewrite must
    * actually read. `keptStats` re-inlines ONLY previously-inline
    * stats (checkpoint-served stats keep riding `keptCkpt`), so a
    * million-file table never folds its checkpoint into manifest
    * JSON on a DML commit.
    */
  private[sources] final case class TouchedSplit(kept: Seq[String],
      keptStats: Map[String, FileStats], keptCkpt: Option[String],
      touchedPaths: Seq[String]) {
    def touchedCount: Int = touchedPaths.size
  }

  /** Classify every live file of the chain under `mayTouch` (a
    * PHYSICAL-name predicate): a file rides as kept iff its skipping
    * stats PROVE no row can satisfy the predicate and it is not in
    * `forced`; files without stats are conservatively touched (their
    * rewrite is exactly today's behavior — classification can only
    * SHRINK the rewrite, never change its result). Granularity: a dir
    * whose every file is kept rides as one dir entry; a split dir
    * contributes file-granular entries (protocol v5).
    *
    * Scale shape: below [[planThreshold]] verdicts fold on the driver
    * from the inline+checkpoint stats; above it, ONE Spark job over
    * the checkpoint parquet collects only the TOUCHED file keys and a
    * per-dir covered-file census — the driver never materializes the
    * per-file stat rows. Both arms then reconcile each dir against a
    * real `store.list`, so a file that somehow carries no stat row
    * (external writer, older-format commit) forces its WHOLE dir into
    * the rewrite instead of being silently kept — the witness is
    * verified, not trusted.
    */
  private def classifyTouched(v: Long, mayTouch:
      org.apache.spark.sql.catalyst.expressions.Expression,
      forced: Set[String] = Set.empty): TouchedSplit = {
    import spark.implicits._
    val (chain, schema0) = manifestChainAt(v)
    val cmap = colMapOf(chain)
    val phys = physSchema(schema0, cmap)
    val live = chain.flatMap(_.add)
    val inline: Map[String, FileStats] =
      chain.flatMap(_.stats.getOrElse(Map.empty)).toMap
    val priorCkpt = chain.flatMap(_.statsFile).lastOption
    val fileEntries = live.filter(_.contains("/")).toSet
    // verdict provider: (touched keys among stats-covered files,
    // per-dir covered-row counts, covered file-granular entries)
    val (touchedCovered: Set[String], coveredPerDir: Map[String, Long],
        coveredFileEntries: Set[String]) =
      if (statRowEstimate(chain) > planThreshold) {
        val ds = fileStatsSource(chain)
        val fexpr = mayTouch
        val fschema = phys
        val fforced = forced
        val touched = ds.filter { r =>
          val (f, fs) = TxLogTable.fromCkptRow(r)
          fforced.contains(f) ||
            DataSkipping.mayMatch(fexpr, fschema, fs)
        }.map(_.file).collect().toSet
        val perDir = ds.map(_.file.takeWhile(_ != '/'))
          .groupByKey(identity).count().collect().toMap
        val coveredF =
          if (fileEntries.isEmpty) Set.empty[String]
          else ds.filter(r => fileEntries.contains(r.file))
            .map(_.file).collect().toSet
        TxLogTable.lastPlanMaterialized = touched.size + perDir.size
        (touched, perDir, coveredF)
      } else {
        val all: Map[String, FileStats] = priorCkpt match {
          case Some(name) if !liveFileKeysCoveredInline(chain, inline) =>
            val template = Seq.empty[TxLogTable.CkptStatRow].toDS()
            spark.read.schema(template.schema)
              .parquet(ckptPath(name).toString)
              .as[TxLogTable.CkptStatRow]
              .collect().map(TxLogTable.fromCkptRow).toMap ++ inline
          case _ => inline
        }
        TxLogTable.lastPlanMaterialized = all.size
        val touched = all.iterator.collect {
          case (f, fs) if forced.contains(f) ||
              DataSkipping.mayMatch(mayTouch, phys, fs) => f
        }.toSet
        (touched,
          all.keysIterator.map(_.takeWhile(_ != '/'))
            .toSeq.groupBy(identity).map { case (d, fs) =>
              d -> fs.size.toLong },
          fileEntries.filter(all.contains))
      }
    val kept = Seq.newBuilder[String]
    val keptStats = Map.newBuilder[String, FileStats]
    val touchedPaths = Seq.newBuilder[String]
    def keepStats(f: String): Unit =
      inline.get(f).foreach(fs => keptStats += f -> fs)
    live.foreach { e =>
      if (e.contains("/")) {
        // file-granular live entry: kept iff a stat row exists for it
        // AND the verdict proves no touch; absent stats ⇒ touched
        if (coveredFileEntries.contains(e) && !touchedCovered.contains(e)) {
          kept += e; keepStats(e)
        } else touchedPaths += dataFilePath(e)
      } else {
        val files = store.list(dataDir.resolve(e))
          .filter(_.endsWith(".parquet")).map(f => s"$e/$f")
        val coveredCount = coveredPerDir.getOrElse(e, 0L)
        if (coveredCount < files.size) {
          // some file carries no stat row: the whole dir rewrites —
          // keeping an unprovable file would be a lost update
          touchedPaths += dataDir.resolve(e).toString
        } else {
          val (touchedF, keptF) = files.partition(touchedCovered.contains)
          if (touchedF.isEmpty) {
            kept += e // whole dir survives: keep dir granularity
            files.foreach(keepStats)
          } else {
            keptF.foreach { f => kept += f; keepStats(f) }
            touchedF.foreach(f => touchedPaths += dataFilePath(f))
          }
        }
      }
    }
    TouchedSplit(kept.result(), keptStats.result(), priorCkpt,
      touchedPaths.result())
  }

  /** Whether every live file key has an INLINE stat row (then the
    * checkpoint need not be consulted for verdicts).
    */
  private def liveFileKeysCoveredInline(chain: List[Manifest],
      inline: Map[String, FileStats]): Boolean =
    chain.flatMap(_.add).forall { e =>
      if (e.contains("/")) inline.contains(e)
      else store.list(dataDir.resolve(e)).filter(_.endsWith(".parquet"))
        .forall(f => inline.contains(s"$e/$f"))
    }

  /** The deletion-vector dirs a file-granular DML commit must carry:
    * the previous state when any of its (file, pos) keys still
    * references a KEPT entry; None (= reset, under an overwrite head)
    * when every referenced file was rewritten. One small parquet read
    * of the sidecars, bounded by deleted-row count.
    */
  private def carriedDvFor(chain: List[Manifest],
      kept: Seq[String]): Option[Seq[String]] = {
    import org.apache.spark.sql.functions.{col, lit, substring_index}
    val prev = dvDirsOf(chain)
    if (prev.isEmpty || kept.isEmpty) return None
    val (keptFiles, keptDirs) = kept.partition(_.contains("/"))
    val byDir =
      if (keptDirs.isEmpty) lit(false)
      else substring_index(col("_dv_file"), "/", 1).isin(keptDirs: _*)
    val byFile =
      if (keptFiles.isEmpty) lit(false)
      else col("_dv_file").isin(keptFiles: _*)
    val anyRef = !spark.read.schema(dvReadSchema)
      .parquet(prev.map(d => dataDir.resolve(d).toString): _*)
      .filter(byDir || byFile).isEmpty
    if (anyRef) Some(prev) else None
  }

  /** Skipping predicate (PHYSICAL names) a file must pass to possibly
    * hold a SOURCE KEY of a merge: per key column, membership in the
    * source's distinct value set (precise — ranges AND Blooms bite)
    * up to `spark.graft.txlog.dmlKeyInListMax` distinct values, else
    * the source's [min, max] range (coarse but still file-decisive on
    * a clustered table). Multi-column keys test column-wise — a
    * conservative superset of the true tuple match. `nullKeysMatch`
    * adds the IS NULL arm for DML whose key semantics group nulls
    * (the latest-wins merge window); the conditional MERGE joins by
    * equality where nulls never match, so it omits it.
    */
  private def sourceKeyPredicate(source: DataFrame, key: Seq[String],
      schema: StructType, cmap: Map[String, String],
      nullKeysMatch: Boolean):
      org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.functions.{col => fcol, count, lit,
      max => fmax, min => fmin}
    val phys = physSchema(schema, cmap)
    def attrOf(k: String): AttributeReference = {
      val p = cmap.getOrElse(k, k)
      AttributeReference(p, phys(phys.fieldIndex(p)).dataType)()
    }
    val cap = spark.conf
      .getOption("spark.graft.txlog.dmlKeyInListMax")
      .map(_.toInt).getOrElse(100000)
    val keyCols = key.map(fcol)
    val distinctKeys =
      source.select(keyCols: _*).distinct().limit(cap + 1).collect()
    val colPreds: Seq[Expression] =
      if (distinctKeys.length <= cap) {
        key.zipWithIndex.map { case (k, i) =>
          val vals = distinctKeys.iterator.map(_.get(i))
            .filter(_ != null).toSeq.distinct
          val hasNull = distinctKeys.exists(_.isNullAt(i))
          val base: Expression =
            if (vals.isEmpty) Literal(false)
            else In(attrOf(k), vals.map(Literal(_)))
          if (hasNull && nullKeysMatch) Or(base, IsNull(attrOf(k)))
          else base
        }
      } else {
        // range fallback: one bounded aggregate over the source
        val aggs = key.flatMap(k => Seq(
          fmin(fcol(k)).as(s"__mn_$k"), fmax(fcol(k)).as(s"__mx_$k"),
          count(fcol(k)).as(s"__nn_$k"))) :+ count(lit(1)).as("__n")
        val r = source.agg(aggs.head, aggs.tail: _*).collect().head
        val total = r.getLong(r.fieldIndex("__n"))
        key.map { k =>
          val mn = r.get(r.fieldIndex(s"__mn_$k"))
          val mx = r.get(r.fieldIndex(s"__mx_$k"))
          val hasNull = r.getLong(r.fieldIndex(s"__nn_$k")) < total
          val a = attrOf(k)
          val base: Expression =
            if (mn == null) Literal(false) // all-null key column
            else And(GreaterThanOrEqual(a, Literal(mn)),
              LessThanOrEqual(a, Literal(mx)))
          if (hasNull && nullKeysMatch) Or(base, IsNull(a)) else base
        }
      }
    colPreds.reduceOption(And).getOrElse(Literal(true))
  }

  /** Live files holding DUPLICATE-key groups of snapshot `v` — the
    * latest-wins [[merge]] collapses those even when the batch never
    * names their keys (window semantics: null keys group too), so
    * they must join the rewrite regardless of the source-key verdict.
    * One column-pruned key scan with map-side partial aggregation —
    * keys and file tags shuffle, data columns never move; the collect
    * is bounded by the number of dup-holding FILES, and on a
    * merge-maintained (key-unique) table it is empty.
    */
  private def dupKeyFileCensus(v: Long, key: Seq[String]): Set[String] = {
    import org.apache.spark.sql.functions._
    val (chain, schema) = manifestChainAt(v)
    val live = chain.flatMap(_.add)
    if (live.isEmpty) return Set.empty
    val cmap = colMapOf(chain)
    val keyPhys = key.map(k => cmap.getOrElse(k, k))
    val paths = live.map(d => dataDir.resolve(d).toString)
    val tagged = spark.read.schema(physSchema(schema, cmap))
      .parquet(paths: _*)
      .select((keyPhys.map(col) :+ TxLogTable.dvFileKey.as("__f") :+
        col("_metadata.row_index").as("__p")): _*)
    val dvs = dvDirsOf(chain)
    val alive =
      if (dvs.isEmpty) tagged
      else {
        val dv = spark.read.schema(dvReadSchema)
          .parquet(dvs.map(d => dataDir.resolve(d).toString): _*)
          .select(col("_dv_file").as("__f"), col("_dv_pos").as("__p"))
        tagged.join(dv, Seq("__f", "__p"), "left_anti")
      }
    alive.groupBy(keyPhys.map(col): _*)
      .agg(count(lit(1)).as("__n"), collect_set(col("__f")).as("__fs"))
      .filter(col("__n") > 1)
      .select(explode(col("__fs")).as("f"))
      .distinct().collect().map(_.getString(0)).toSet
  }

  /** A file subset whose EXACT stats-known row count covers `n` — the
    * LIMIT-pushdown seam ([[TxLogBatchScan]]): an unordered LIMIT may
    * return ANY n rows, so planning only enough files to hold them is
    * semantics-preserving (Spark re-applies the limit above). None
    * when any live file lacks stats — then the scan must plan
    * everything.
    */
  private[sources] def limitPaths(version: Long,
      n: Long): Option[Seq[String]] =
    liveFileStatsAt(version).map { case (files, all) =>
      val out = Seq.newBuilder[String]
      var acc = 0L
      val it = files.iterator
      while (acc < n && it.hasNext) {
        val f = it.next()
        acc += all(f).rows
        out += dataDir.resolve(f).toString
      }
      out.result()
    }

  /** Per-file skipping stats of the snapshot under LOGICAL column
    * names: `(file, rows, ranges)` for every live part-file, or None
    * unless EVERY live file is covered (the [[statsSummaryAt]]
    * exactness contract). The grouped manifest census reads these to
    * recognize FILE-CONSTANT columns (per-file min == max, zero
    * nulls) — the clustered-layout pattern that stands in for hive
    * partition values.
    */
  private[graft] def perFileStatsAt(version: Long)
      : Option[Seq[(String, Long, Map[String, ColRange])]] = {
    val (chain, _) = manifestChainAt(version)
    val revMap = colMapOf(chain).map(_.swap)
    liveFileStatsAt(version).map { case (files, all) =>
      files.map { f =>
        val fs = all(f)
        (f, fs.rows,
          fs.cols.map { case (c, r) => revMap.getOrElse(c, c) -> r })
      }
    }
  }

  /** [[perFileStatsAt]] without the all-covered refusal: stats-bearing
    * files (ranges under LOGICAL names) plus the uncovered files as
    * plain store paths — the hybrid-census split. None only when a
    * live dir is missing on disk.
    */
  private[graft] def perFileStatsSplitAt(version: Long)
      : Option[(Seq[(String, Long, Map[String, ColRange])], Seq[String])] = {
    val (chain, _) = manifestChainAt(version)
    val revMap = colMapOf(chain).map(_.swap)
    fileStatsSplitAt(version).map { case (files, all, uncovered) =>
      (files.map { f =>
        val fs = all(f)
        (f, fs.rows,
          fs.cols.map { case (c, r) => revMap.getOrElse(c, c) -> r })
      }, uncovered.map(dataFilePath))
    }
  }

  // ── distributed manifest planning (the million-file arm) ─────────

  /** Live-file-count threshold above which snapshot-planning folds
    * ([[statsSummaryAt]], the grouped census split) run as ONE Spark
    * job over the checkpoint parquet instead of a driver
    * materialization: at ~1M files the stat rows are GBs of driver
    * heap and seconds per plan — the ceiling Delta/Iceberg remove by
    * pruning distributed over their checkpoints, mirrored here. Below
    * the threshold the driver fold is cheaper than a job round-trip.
    */
  private def planThreshold: Long =
    spark.conf.getOption("spark.graft.txlog.distributedPlanThreshold")
      .map(_.toLong).getOrElse(100000L)

  /** The snapshot's per-file stat rows as a DATASET — checkpoint
    * parquet rows (minus the ones the chain re-inlined) unioned with
    * the inline rows, restricted to live entries (dir- or
    * file-granular). The scale arms aggregate over THIS instead of
    * collecting it.
    */
  private def fileStatsSource(chain: List[Manifest])
      : org.apache.spark.sql.Dataset[TxLogTable.CkptStatRow] = {
    import spark.implicits._
    val live = chain.flatMap(_.add)
    val inline: Map[String, FileStats] =
      chain.flatMap(_.stats.getOrElse(Map.empty)).toMap
    val inlineDs = inline.toSeq
      .map { case (f, fs) => TxLogTable.toCkptRow(f, fs) }.toDS()
    val base = chain.flatMap(_.statsFile).lastOption match {
      case None => inlineDs
      case Some(name) =>
        val inlineKeys = inline.keySet
        spark.read.schema(inlineDs.schema)
          .parquet(ckptPath(name).toString)
          .as[TxLogTable.CkptStatRow]
          .filter(r => !inlineKeys.contains(r.file))
          .unionByName(inlineDs)
    }
    val dirKeys = live.filterNot(_.contains("/")).toSet
    val fileKeys = live.filter(_.contains("/")).toSet
    base.filter(r => dirKeys.contains(r.file.takeWhile(_ != '/')) ||
      fileKeys.contains(r.file))
  }

  /** Spark column decoding an external-format stat string into the
    * comparable runtime value of `dt` (the inverse rides
    * [[encodeStatValue]]): integral/date/timestamp externals are
    * numeric strings, fp/decimal plain decimal strings, strings
    * themselves (UTF8String compare = code-point order, matching
    * [[DataSkipping.cmpCodePoints]]).
    */
  private def decodeStatCol(c: Column, dt: DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | TimestampType | TimestampNTZType => c.cast(LongType)
      case FloatType | DoubleType => c.cast(DoubleType)
      case d: DecimalType => c.cast(d)
      case _ => c // string family
    }
  }

  /** Typed job-result value → the external string encoding the
    * manifest/driver folds speak.
    */
  private def encodeStatValue(v: Any): Option[String] = v match {
    case null => None
    case l: Long => Some(l.toString)
    case d: Double => Some(d.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: scala.math.BigDecimal => Some(d.bigDecimal.toPlainString)
    case s: String => Some(s)
    case o => Some(o.toString)
  }

  /** [[statsSummaryAt]]'s scale arm: the whole fold as ONE Spark
    * aggregation over [[fileStatsSource]] — the driver materializes a
    * single wide row, never the per-file census. Coverage semantics
    * match the driver fold: a column folds only when EVERY live file
    * carries its stats; the summary itself only serves when every
    * live dir entry is stats-covered. NDV unions ride the native
    * [[graft.plans.ThetaUnionAgg]] at the manifest sketches' lgK.
    */
  private def statsSummaryDistributed(chain: List[Manifest],
      schema: StructType)
      : Option[(Long, Map[String, ColRange], Map[String, Long])] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val live = chain.flatMap(_.add)
    val cmap = colMapOf(chain)
    val phys = physSchema(schema, cmap)
    val revMap = cmap.map(_.swap)
    val ds = fileStatsSource(chain)
    val fields = phys.fields.toSeq
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("_n"), sum(col("rows")).as("_rows")) ++
        fields.zipWithIndex.flatMap { case (f, i) =>
          val hasStats = map_contains_key(col("nullCounts"), lit(f.name))
          Seq(
            sum(when(hasStats, lit(1L)).otherwise(lit(0L))).as(s"c$i"),
            sum(when(hasStats, element_at(col("nullCounts"), lit(f.name)))
              .otherwise(lit(0L))).as(s"u$i"),
            min(decodeStatCol(element_at(col("mins"), lit(f.name)),
              f.dataType)).as(s"mn$i"),
            max(decodeStatCol(element_at(col("maxs"), lit(f.name)),
              f.dataType)).as(s"mx$i"),
            sum(when(map_contains_key(col("thetas"), lit(f.name)),
              lit(1L)).otherwise(lit(0L))).as(s"tc$i"),
            graft.ext.ThetaSketches.unionAgg(
              unbase64(element_at(col("thetas"), lit(f.name))), 9)
              .as(s"tu$i"))
        }
    val r = ds.agg(aggs.head, aggs.tail: _*).collect().head
    TxLogTable.lastPlanMaterialized = 1
    val n = r.getLong(r.fieldIndex("_n"))
    if (n == 0L) return Some((0L, Map.empty, Map.empty))
    // coverage of the LIVE SET itself, VERIFIED against the store
    // (not trusted): per-dir stat-row counts must equal the dir's
    // listed parquet census, and every FILE-granular entry needs its
    // own row — a live file without a stat row (external writer,
    // older-format commit) refuses here exactly as the driver arm
    // does, instead of silently undercounting
    val perDir = ds.map(_.file.takeWhile(_ != '/'))
      .groupByKey(identity).count().collect().toMap
    val fileEntries = live.filter(_.contains("/")).toSet
    val coveredFiles: Set[String] =
      if (fileEntries.isEmpty) Set.empty
      else ds.filter(row => fileEntries.contains(row.file))
        .map(_.file).collect().toSet
    val covered = live.forall { e =>
      if (e.contains("/")) coveredFiles.contains(e)
      else perDir.getOrElse(e, 0L) ==
        store.list(dataDir.resolve(e)).count(_.endsWith(".parquet"))
    }
    if (!covered) return None
    val rows = r.getLong(r.fieldIndex("_rows"))
    val ranges = Map.newBuilder[String, ColRange]
    val ndvs = Map.newBuilder[String, Long]
    fields.zipWithIndex.foreach { case (f, i) =>
      if (r.getLong(r.fieldIndex(s"c$i")) == n) {
        val logical = revMap.getOrElse(f.name, f.name)
        ranges += logical -> ColRange(
          encodeStatValue(r.get(r.fieldIndex(s"mn$i"))),
          encodeStatValue(r.get(r.fieldIndex(s"mx$i"))),
          r.getLong(r.fieldIndex(s"u$i")))
        if (r.getLong(r.fieldIndex(s"tc$i")) == n) {
          val bytes = r.getAs[Array[Byte]](r.fieldIndex(s"tu$i"))
          if (bytes != null && bytes.nonEmpty) {
            import org.apache.datasketches.memory.Memory
            import org.apache.datasketches.theta.CompactSketch
            ndvs += logical -> math.round(
              CompactSketch.heapify(Memory.wrap(bytes)).getEstimate)
          }
        }
      }
    }
    Some((rows, ranges.result(), ndvs.result()))
  }

  /** One folded census group under LOGICAL names, externals encoded
    * as the driver fold speaks them ([[censusSplitAt]]).
    */
  private[graft] case class CensusGroupRow(key: Seq[String], rows: Long,
      counts: Map[String, Long], mins: Map[String, String],
      maxs: Map[String, String])

  /** The (hybrid) census SPLIT of a snapshot: group rows folded from
    * every file that is constant in `groupCols` and stats-covered in
    * the agg columns, plus the straggler paths a hybrid scan must
    * actually read. Below [[planThreshold]] this is the driver fold
    * over the per-file stats; above it, ONE Spark job over the
    * checkpoint parquet with only (groups + stragglers) rows ever
    * reaching the driver. None when the snapshot shape cannot census
    * (missing dirs, or a straggler set so large a plain scan is the
    * better plan).
    */
  private[graft] def censusSplitAt(version: Long, groupCols: Seq[String],
      countCols: Seq[String], minCols: Seq[String], maxCols: Seq[String])
      : Option[(Seq[CensusGroupRow], Seq[String])] = {
    val (chain, _) = manifestChainAt(version)
    if (statRowEstimate(chain) > planThreshold)
      censusSplitDistributed(chain, groupCols, countCols,
        minCols, maxCols)
    else censusSplitDriver(version, chain, groupCols, countCols,
      minCols, maxCols)
  }

  /** Upper bound on the chain's stat-row census (inline rows + the
    * checkpoint's cached row count — a checkpoint may carry rows for
    * since-dropped files, so this can only ERR TOWARD the distributed
    * arm, which stays exact). The checkpoint count is one footer-only
    * job per ckpt file per JVM ([[TxLogTable.ckptCountCache]]).
    */
  private def statRowEstimate(chain: List[Manifest]): Long = {
    val inlineCount = chain.flatMap(_.stats.getOrElse(Map.empty)).size
    val ckptCount = chain.flatMap(_.statsFile).lastOption.fold(0L) {
      name =>
        val key = ckptPath(name).toString
        TxLogTable.ckptCountCache.computeIfAbsent(key,
          _ => spark.read.parquet(key).count())
    }
    inlineCount + ckptCount
  }

  private def censusSplitDriver(version: Long, chain: List[Manifest],
      groupCols: Seq[String], countCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String])
      : Option[(Seq[CensusGroupRow], Seq[String])] = {
    val (per, uncovered) = perFileStatsSplitAt(version) match {
      case Some(x) => x
      case None => return None
    }
    TxLogTable.lastPlanMaterialized = per.size
    val needed = (countCols ++ minCols ++ maxCols).distinct
    val (censusable, broken) = per.partition { case (_, _, cols) =>
      groupCols.forall(g => cols.get(g).exists(r =>
        r.nulls == 0L && r.min.isDefined && r.min == r.max)) &&
        needed.forall(cols.contains)
    }
    val stragglers =
      uncovered ++ broken.map { case (f, _, _) => dataFilePath(f) }
    val (chain2, schema) = manifestChainAt(version)
    val cmap = colMapOf(chain2)
    val phys = physSchema(schema, cmap)
    def dtOf(logical: String): DataType =
      phys.fields(schema.fieldIndex(logical)).dataType
    val groups = censusable
      .map { case (_, rows, cols) =>
        (groupCols.map(g => cols(g).min.get), rows, cols)
      }
      .groupBy(_._1).toSeq
      .map { case (key, files) =>
        def fold(c: String, pick: ColRange => Option[String],
            keepMax: Boolean): Option[String] =
          files.flatMap { case (_, _, cols) => pick(cols(c)) }
            .reduceOption { (a, b) =>
              DataSkipping.cmpExternal(dtOf(c), a, b) match {
                case Some(x) => if ((x >= 0) == keepMax) a else b
                case None => a
              }
            }
        CensusGroupRow(key,
          files.iterator.map(_._2).sum,
          countCols.map(c => c -> files.iterator.map {
            case (_, rows, cols) => rows - cols(c).nulls
          }.sum).toMap,
          minCols.flatMap(c =>
            fold(c, _.min, keepMax = false).map(c -> _)).toMap,
          maxCols.flatMap(c =>
            fold(c, _.max, keepMax = true).map(c -> _)).toMap)
      }
    Some((groups, stragglers))
  }

  /** The scale arm of [[censusSplitAt]]: group constancy, coverage,
    * and the per-group fold all inside one Spark aggregation; the
    * driver sees group rows and straggler names only.
    */
  private def censusSplitDistributed(chain: List[Manifest],
      groupCols: Seq[String], countCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String])
      : Option[(Seq[CensusGroupRow], Seq[String])] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val live = chain.flatMap(_.add)
    val schema = DataType.fromJson(chain.last.schemaJson)
      .asInstanceOf[StructType]
    val cmap = colMapOf(chain)
    val phys = physSchema(schema, cmap)
    def physName(n: String): String = cmap.getOrElse(n, n)
    def dtOf(logical: String): DataType =
      phys.fields(schema.fieldIndex(logical)).dataType
    val needed = (countCols ++ minCols ++ maxCols).distinct
    val ds = fileStatsSource(chain)
    val censusable: Column =
      (groupCols.map { g =>
        val p = physName(g)
        map_contains_key(col("nullCounts"), lit(p)) &&
          element_at(col("nullCounts"), lit(p)) === 0L &&
          map_contains_key(col("mins"), lit(p)) &&
          element_at(col("mins"), lit(p)) ===
            element_at(col("maxs"), lit(p))
      } ++ needed.map(c =>
        map_contains_key(col("nullCounts"), lit(physName(c)))))
        .reduceOption(_ && _).getOrElse(lit(true))
    val tagged = ds.withColumn("_census", censusable)
    // stragglers: bounded collect — past the threshold a plain scan
    // beats shipping a straggler army through the hybrid
    val stragglerCap = math.min(planThreshold, Int.MaxValue - 2L).toInt
    val stragglerKeys = tagged.filter(!col("_census"))
      .select(col("file")).as[String].limit(stragglerCap + 1)
      .collect()
    if (stragglerKeys.length > stragglerCap) return None
    // coverage VERIFIED against the store (the driver arm's
    // `uncovered` contract): per-dir stat-row counts must equal the
    // dir's listed parquet census — a dir with NO rows scans whole, a
    // PARTIALLY covered dir contributes its uncensused files as
    // stragglers, and a file-granular entry without its own row
    // straggles too. Nothing is silently undercounted.
    val perDir = ds.map(_.file.takeWhile(_ != '/'))
      .groupByKey(identity).count().collect().toMap
    val fileEntries = live.filter(_.contains("/")).toSet
    val coveredFiles: Set[String] =
      if (fileEntries.isEmpty) Set.empty
      else ds.filter(row => fileEntries.contains(row.file))
        .map(_.file).collect().toSet
    val uncoveredDirs = Seq.newBuilder[String]
    val uncoveredFiles = Seq.newBuilder[String]
    live.foreach { e =>
      if (e.contains("/")) {
        if (!coveredFiles.contains(e)) uncoveredFiles += e
      } else {
        val listed = store.list(dataDir.resolve(e))
          .filter(_.endsWith(".parquet")).map(f => s"$e/$f")
        val rows = perDir.getOrElse(e, 0L)
        if (rows == 0L && listed.nonEmpty) uncoveredDirs += e
        else if (rows != listed.size) {
          // partial coverage: only the uncensused files straggle
          val present = ds
            .filter(row => row.file.startsWith(e + "/"))
            .map(_.file).collect().toSet
          uncoveredFiles ++= listed.filterNot(present)
        }
      }
    }
    val keyCols = groupCols.zipWithIndex.map { case (g, i) =>
      element_at(col("mins"), lit(physName(g))).as(s"k$i")
    }
    val aggs: Seq[Column] =
      Seq(sum(col("rows")).as("_rows")) ++
        countCols.zipWithIndex.map { case (c, i) =>
          sum(col("rows") -
            element_at(col("nullCounts"), lit(physName(c)))).as(s"n$i")
        } ++
        minCols.zipWithIndex.map { case (c, i) =>
          min(decodeStatCol(element_at(col("mins"), lit(physName(c))),
            dtOf(c))).as(s"mn$i")
        } ++
        maxCols.zipWithIndex.map { case (c, i) =>
          max(decodeStatCol(element_at(col("maxs"), lit(physName(c))),
            dtOf(c))).as(s"mx$i")
        }
    val grouped = tagged.filter(col("_census"))
      .groupBy(keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    TxLogTable.lastPlanMaterialized = grouped.length + stragglerKeys.length
    val groups = grouped.toSeq.map { r =>
      CensusGroupRow(
        groupCols.indices.map(i => r.getAs[String](s"k$i")),
        r.getLong(r.fieldIndex("_rows")),
        countCols.zipWithIndex.map { case (c, i) =>
          c -> r.getLong(r.fieldIndex(s"n$i")) }.toMap,
        minCols.zipWithIndex.flatMap { case (c, i) =>
          encodeStatValue(r.get(r.fieldIndex(s"mn$i"))).map(c -> _)
        }.toMap,
        maxCols.zipWithIndex.flatMap { case (c, i) =>
          encodeStatValue(r.get(r.fieldIndex(s"mx$i"))).map(c -> _)
        }.toMap)
    }
    Some((groups,
      stragglerKeys.toSeq.map(dataFilePath) ++
        uncoveredFiles.result().map(dataFilePath) ++
        uncoveredDirs.result().map(d => dataDir.resolve(d).toString)))
  }

  private[graft] def statsSummaryAt(version: Long)
      : Option[(Long, Map[String, ColRange], Map[String, Long])] = {
    val (chain, schema) = manifestChainAt(version)
    val live = chain.flatMap(_.add)
    if (live.isEmpty) return Some((0L, Map.empty, Map.empty))
    // scale arm: past the threshold the fold runs as one Spark job
    // over the checkpoint parquet — the driver materializes one row
    if (statRowEstimate(chain) > planThreshold)
      return statsSummaryDistributed(chain, schema)
    val (liveFiles, all) = liveFileStatsAt(version) match {
      case Some(x) => x
      case None => return None
    }
    TxLogTable.lastPlanMaterialized = liveFiles.size
    val cmap = colMapOf(chain)
    val phys = physSchema(schema, cmap)
    val rows = liveFiles.iterator.map(all(_).rows).sum
    val revMap = cmap.map(_.swap)
    val covered = phys.fields.filter(f =>
      liveFiles.forall(all(_).cols.contains(f.name)))
    val colRanges = covered.iterator.map { f =>
      val rs = liveFiles.map(all(_).cols(f.name))
      def fold(pick: ColRange => Option[String], keepMax: Boolean) =
        rs.flatMap(pick(_)).reduceOption { (a, b) =>
          DataSkipping.cmpExternal(f.dataType, a, b) match {
            case Some(c) => if ((c >= 0) == keepMax) a else b
            case None => a
          }
        }
      revMap.getOrElse(f.name, f.name) -> ColRange(
        fold(_.min, keepMax = false), fold(_.max, keepMax = true),
        rs.iterator.map(_.nulls).sum)
    }.toMap
    val ndvs = covered.iterator.flatMap { f =>
      unionNdv(liveFiles, all, f.name)
        .map(revMap.getOrElse(f.name, f.name) -> _)
    }.toMap
    Some((rows, colRanges, ndvs))
  }

  /** The data paths a full scan of snapshot `version` reads (the
    * DESCRIBE DETAIL-style introspection surface): dirs for commits
    * without per-file stats, individual part-files otherwise. Lets
    * callers pin physical-layout invariants — e.g. that a vectored
    * delete left the live set untouched — without reaching into the
    * log format.
    */
  def liveDataPaths(version: Long): Seq[String] =
    scanPathsAt(version, org.apache.spark.sql.functions.lit(true))

  /** True on-disk bytes of a scan-path list (dirs expand to their
    * parquet files) — the accounting [[TxLogRelation.sizeInBytes]] and
    * the V2 scan statistics report, so a small txlog dimension still
    * auto-broadcasts. One driver-side metadata walk over the store's
    * FileSystem, O(#files).
    */
  private[sources] def onDiskBytes(paths: Seq[String]): Long =
    paths.iterator.map(p => store.parquetBytes(new Path(p))).sum

  /** Expand a scan-path list (mixed dirs and part-files — the
    * [[scanPathsAt]] shape) to individual parquet FILE paths — the
    * granularity the DV-aware V2 scan needs to split clean files from
    * deletion-touched ones. One store metadata walk per listed dir.
    */
  private[sources] def expandToFiles(paths: Seq[String]): Seq[String] =
    paths.flatMap { p =>
      val hp = new Path(p)
      if (!store.isDir(hp)) Seq(p)
      else store.list(hp).filter(_.endsWith(".parquet"))
        .map(f => hp.resolve(f).toString)
    }

  /** On-disk bytes of version `v`'s change payload — the dirs/files
    * [[changes]] plans for `(v-1, v]` (CDC dirs when typed, added
    * dirs otherwise, plus a replaceWhere's removed census). The CDC
    * source's byte-based admission control
    * ([[TxLogChangeSource]] `maxBytesPerBatch`) budgets on this; one
    * store metadata walk per version, cacheable forever (immutable).
    */
  private[sources] def changePayloadBytes(v: Long): Long = {
    if (!store.exists(manifestPath(v))) return 0L
    val m = manifestAt(v)
    val replaceWhere = m.markers.exists(_.contains("replace_where"))
    val entries: Seq[String] =
      if (replaceWhere && m.removed.exists(_.nonEmpty))
        m.add.filterNot(chainAddsBefore(v)) ++ m.removed.get
      else m.cdc.getOrElse(m.add)
    entries.iterator
      .map(d => store.parquetBytes(dataDir.resolve(d))).sum
  }

  /** Store paths of the deletion-vector dirs live at `version`. */
  private[sources] def dvDirPaths(version: Long): Seq[String] =
    dvDirsAt(version).map(d => dataDir.resolve(d).toString)

  // ── native V2 write seams ([[TxLogBatchWrite]]) ───────────────────

  /** The PHYSICAL write schema for a batch arriving under logical
    * names — what executor-side staged writers stamp into parquet
    * metadata (files always store physical names; identity when no
    * mapping is live).
    */
  private[sources] def physicalWriteSchema(s: StructType): StructType =
    physSchema(s, currentColMap)

  private[sources] def stagedDirPath(name: String): String =
    dataDir.resolve(name).toString

  private[sources] def mkStagedDir(name: String): Unit =
    store.mkdirs(dataDir.resolve(name))

  private[sources] def dropStagedDir(name: String): Unit =
    store.deleteRecursive(dataDir.resolve(name))

  /** Commit a dir the V2 writers already staged (the driver half of
    * [[TxLogBatchWrite]] and [[TxLogStreamingWrite]]): same optimistic
    * loop and commit shape as [[append]]/[[overwrite]]. CHECK
    * constraints were enforced IN-TASK by the writers (fail-fast per
    * row, single pass); the commit re-validates with one batch-sized
    * read only when the live set MOVED since the writers bound theirs
    * (a concurrent addConstraint — the same race guard [[append]]
    * has). The per-file stats are the ones the writers folded while
    * writing, carried by their commit messages `done` — no re-scan.
    */
  private[sources] def commitStagedV2(dirName: String,
      batchSchema: StructType, overwrite: Boolean,
      done: Seq[TxLogWriteDone], writeNanos: Long,
      validatedConstraints: Map[String, String] = Map.empty,
      maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty): Long = {
    val stats = sealStaged(dirName, None, done, writeNanos)
    commitLoop(maxRetries) { v =>
      val cs = constraintsAt(v)
      if (cs.nonEmpty && cs != validatedConstraints)
        enforce(readPhysical(Seq(stagedDirPath(dirName)), batchSchema,
          colMapAt(v)), cs).foreach(_ => ())
      val schema =
        if (v < 0 || overwrite) batchSchema
        else evolveSchema(manifestChainAt(v)._2, batchSchema, colMapAt(v),
          droppedColsAt(v).toSeq)
      Some(Manifest(0L, if (overwrite) "overwrite" else "append",
        Seq(dirName), schema.json, System.currentTimeMillis(),
        wrap(markers), stats))
    }
  }

  /** Reader protocol the snapshot's manifest actually requires —
    * the DESCRIBE DETAIL surface (derived from feature presence at
    * the commit choke point, so it tracks DVs, column mapping, and
    * dropped-column tombstones automatically).
    */
  private[graft] def requiredReaderAt(v: Long): Int =
    TxLogTable.requiredReader(manifestAt(v))

  /** `(path, bytes)` of every live part-file at `v` — the DESCRIBE
    * DETAIL census, walked through the store's FileSystem.
    */
  private[graft] def detailFileBytes(v: Long): Seq[(String, Long)] =
    expandToFiles(scanPathsAt(v, org.apache.spark.sql.functions.lit(true)))
      .map(p => (p, store.parquetBytes(new Path(p))))

  /** The snapshot's deletion vectors materialized driver-side: file
    * key ("dir/part-file") → SORTED deleted row positions. Bounded by
    * the caller ([[TxLogScanBuilder]] gates on the DV dirs' on-disk
    * bytes before choosing the inline path); a bulk delete falls back
    * to the distributed anti-join instead of this map.
    */
  private[sources] def loadDvMap(version: Long): Map[String, Array[Long]] = {
    val dirs = dvDirPaths(version)
    if (dirs.isEmpty) Map.empty
    else spark.read.schema(dvReadSchema).parquet(dirs: _*)
      .collect().iterator
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      .groupBy(_._1)
      .map { case (f, ps) => f -> ps.map(_._2).distinct.sorted.toArray }
  }

  private def wrap(m: Map[String, String]): Option[Map[String, String]] =
    if (m.isEmpty) None else Some(m)

  /** Latest value of commit marker `name`, searching newest-first —
    * commit metadata that travels ATOMICALLY with the state it
    * produced (the exactly-once hook [[ParquetTable.marker]] provides
    * for the rename-swap table; here it is a manifest field, so there
    * is no window where state and marker disagree).
    */
  def marker(name: String): Option[String] = {
    var v = currentVersion
    while (v >= 0) {
      if (store.exists(manifestPath(v))) {
        val m = manifestAt(v).markers.flatMap(_.get(name))
        if (m.isDefined) return m
      }
      v -= 1
    }
    None
  }

  /** (version, action, tsMillis) per commit, oldest first. */
  def history(): Seq[(Long, String, Long)] =
    (0L to currentVersion).flatMap { v =>
      if (store.exists(manifestPath(v))) {
        val m = manifestAt(v)
        Some((m.version, m.action, m.tsMillis))
      } else None
    }

  // ── write path ────────────────────────────────────────────────────

  /** What one staged write produced: the data dir, a routed write's
    * change dir, and the per-file stats the writers folded (None when
    * the write asked for no stats columns).
    */
  private[sources] final case class Staged(dir: String,
      cdcDir: Option[String], stats: Option[Map[String, FileStats]])

  /** The one staged write every commit runs: ONE native DSv2 write
    * ([[TxLogStageTable]] over the shared [[TxLogDataWriterFactory]])
    * that writes the part-files and folds each file's skipping stats
    * for `statsCols`/`bloomCols` while writing — no re-scan of the
    * staged dir. With `routed`, `df`'s last column is `_change_type`
    * and the writers split the rows by it: null rows are the commit's
    * data, tagged rows its change feed, so a DML commit writes both
    * dirs from the same pass. The dirs are INERT until a manifest
    * references them — a crash here leaks an orphan for [[vacuum]],
    * never a half-visible table state.
    */
  private[sources] def stage(df: DataFrame, sortCols: Seq[String] = Nil,
      cmapOverride: Option[Map[String, String]] = None,
      checkConstraints: Boolean = false,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      routed: Boolean = false): Staged = {
    val t0 = System.nanoTime()
    val name = UUID.randomUUID().toString
    val cdcName = if (routed) Some(UUID.randomUUID().toString) else None
    require(!routed || df.columns.last == TxLogTable.ChangeType,
      s"a routed write carries ${TxLogTable.ChangeType} as its last column")
    // CHECK constraints ride inside this same write job (fail-fast per
    // row, no second pass), on the DATA rows only. Only data-changing
    // public writers opt in — CDC/DV/compaction stages carry rows
    // already validated (or metadata rows a later, stricter constraint
    // must not veto).
    val input =
      if (checkConstraints)
        enforce(df, constraintsAt(currentVersion), exemptChanges = routed)
      else df
    val sorted =
      if (sortCols.isEmpty) input
      else input.sortWithinPartitions(sortCols.map(input.col): _*)
    // files always store PHYSICAL names: a single simultaneous select
    // (no intermediate collisions), identity when no mapping is live.
    // Metadata columns (_change_type, _dv_*) never appear in the map.
    // restore() overrides with the mapping its commit will carry.
    val cmap = cmapOverride.getOrElse(currentColMap)
    val out =
      if (cmap.isEmpty) sorted
      else sorted.select(sorted.columns.map(c =>
        sorted.col(c).as(cmap.getOrElse(c, c))).toIndexedSeq: _*)
    val outSchema = TxLogV2.asNullable(out.schema)
    val dataSchema =
      if (routed) StructType(outSchema.fields.init) else outSchema
    (name +: cdcName.toSeq).foreach(mkStagedDir)
    val sink = new TxLogStageTable(outSchema, TxLogDataWriterFactory(
      stagedDirPath(name), v2bridge.stagedParquetWriters(spark, dataSchema),
      stats = statsSpec(dataSchema, statsCols, bloomCols, cmap),
      cdc = cdcName.map(c => (stagedDirPath(c),
        v2bridge.stagedParquetWriters(spark, outSchema)))))
    try v2bridge.appendByPosition(out, sink)
    catch { case NonFatal(e) =>
      (name +: cdcName.toSeq).foreach(dropStagedDir)
      throw e
    }
    Staged(name, cdcName,
      sealStaged(name, cdcName, sink.messages, System.nanoTime() - t0))
  }

  /** The writers' stats spec over a PHYSICAL write layout, for stats
    * and Bloom columns named logically.
    */
  private def statsSpec(physical: StructType, statsCols: Seq[String],
      bloomCols: Seq[String], cmap: Map[String, String]): TxLogStatsSpec =
    TxLogStatsSpec.of(physical, statsCols.map(c => cmap.getOrElse(c, c)),
      bloomCols.map(c => cmap.getOrElse(c, c)),
      spark.sessionState.conf.sessionLocalTimeZone)

  /** [[statsSpec]] for a batch arriving under logical names at the
    * current mapping — the native V2 writers' layout.
    */
  private[sources] def writeStatsSpec(logical: StructType,
      statsCols: Seq[String], bloomCols: Seq[String]): TxLogStatsSpec =
    statsSpec(physicalWriteSchema(logical), statsCols, bloomCols,
      currentColMap)

  /** Seal a staged write from its writers' commit messages: delete any
    * part-file no message names (an attempt that published and then
    * failed — only the attempt the commit coordinator let finish is
    * live), key the per-file stats as "dir/part-file", and add the
    * output to the pending commit metrics.
    */
  private[sources] def sealStaged(dir: String, cdcDir: Option[String],
      done: Seq[TxLogWriteDone],
      writeNanos: Long): Option[Map[String, FileStats]] = {
    val t0 = System.nanoTime()
    val files = done.flatMap(_.files)
    val changes = done.flatMap(_.cdcFiles)
    def sweep(d: String, keep: Set[String]): Unit =
      store.list(dataDir.resolve(d))
        .filter(n => n.endsWith(".parquet") && !keep(n))
        .foreach(n => store.deleteIfExists(dataDir.resolve(d).resolve(n)))
    sweep(dir, files.map(_.name).toSet)
    cdcDir.foreach(sweep(_, changes.map(_.name).toSet))
    val stats = files.flatMap(f => f.stats.map(s"$dir/${f.name}" -> _)).toMap
    pending.synchronized {
      val all = files ++ changes
      pending.files += all.size
      pending.rows += all.map(_.rows).sum
      pending.bytes += all.map(_.bytes).sum
      pending.writeNanos += writeNanos
      pending.statsMergeNanos += System.nanoTime() - t0
    }
    if (stats.isEmpty) None else Some(stats)
  }

  /** Commit metrics accumulated since the last commit landed. */
  private object pending {
    var files = 0; var rows = 0L; var bytes = 0L
    var writeNanos = 0L; var statsMergeNanos = 0L; var publishNanos = 0L
    def reset(): Unit = {
      files = 0; rows = 0L; bytes = 0L
      writeNanos = 0L; statsMergeNanos = 0L; publishNanos = 0L
    }
  }

  /** Fan each row of `df` out into the legs of one ROUTED write (see
    * [[stage]]): leg i emits a row where `legs(i).when` holds, tagged
    * `legs(i).changeType` (null for the data leg) and with the
    * `legs(i).values` overrides applied to `cols`. One Generate over
    * the single pass — no union, so the input is computed once.
    */
  private def fanOut(df: DataFrame, cols: Seq[String],
      legs: Seq[TxLogTable.Leg]): DataFrame = {
    import org.apache.spark.sql.functions._
    val leg = col("__leg")
    val picked = df.withColumn("__leg", explode(filter(
      array(legs.zipWithIndex.map { case (l, i) => when(l.when, lit(i)) }: _*),
      _.isNotNull)))
    def pick(of: TxLogTable.Leg => Option[Column], dflt: Column): Column =
      legs.zipWithIndex.foldLeft(dflt) { case (acc, (l, i)) =>
        of(l).fold(acc)(v => when(leg === i, v).otherwise(acc))
      }
    picked.select(cols.map(c => pick(_.values.get(c), col(c)).as(c)) :+
      pick(l => Some(l.changeType), lit(null).cast("string"))
        .as(TxLogTable.ChangeType): _*)
  }

  /** The atomic publish, delegated to the [[CommitOwner]] seam: the
    * whole concurrency story reduces to put-if-absent with exactly one
    * winner. On POSIX that's `link(2)` (EEXIST is atomic); on an
    * object store it's an [[ExternalCasCommitOwner]] over the
    * deployment's CAS service. Returns false on collision.
    */
  private[sources] def tryCommit(version: Long, m: Manifest): Boolean = {
    // protocol stamping: the floor is derived from FEATURE PRESENCE at
    // the single choke point every commit funnels through — a manifest
    // carrying DVs or a column mapping declares the reader version
    // those features need, and base manifests stay version-1-readable
    val req = TxLogTable.requiredReader(m)
    val stamped = if (req > 1) m.copy(minReader = Some(req)) else m
    pub.putIfAbsent(store.fs, manifestPath(version),
      Serialization.write(stamped.copy(version = version))
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Spec hook: bid for `version` with an already-staged overwrite —
    * lets the concurrency spec interleave two writers deterministically
    * without threads. Production paths go through [[commitLoop]].
    */
  private[sources] def tryCommitForTest(version: Long, stagedDir: String,
      schemaJson: String): Boolean =
    tryCommit(version, Manifest(version, "overwrite", Seq(stagedDir),
      schemaJson, System.currentTimeMillis()))

  private def commitLoop(maxRetries: Int)(
      attempt: Long => Option[Manifest]): Long =
    try commitAttempts(maxRetries)(attempt)
    finally pending.synchronized(pending.reset())

  private def commitAttempts(maxRetries: Int)(
      attempt: Long => Option[Manifest]): Long = {
    var tries = 0
    while (tries <= maxRetries) {
      val v = currentVersion
      val next = v + 1
      attempt(v) match {
        case None => return v // no-op commit (e.g. empty append)
        case Some(m) =>
          // commit-layer injection: every manifest carries the full
          // column mapping AND constraint set forward (as with
          // schemaJson), so any chain's newest entry is authoritative
          // and time travel is exact
          val withMap =
            if (m.colMap.isDefined) m
            else colMapAt(v) match {
              case cm if cm.isEmpty => m
              case cm => m.copy(colMap = Some(cm))
            }
          val withCs =
            if (withMap.constraints.isDefined) withMap
            else constraintsAt(v) match {
              case cs if cs.isEmpty => withMap
              case cs => withMap.copy(constraints = Some(cs))
            }
          val stamped =
            if (withCs.droppedCols.isDefined) withCs
            else droppedColsAt(v) match {
              case dc if dc.isEmpty => withCs
              case dc => withCs.copy(droppedCols = Some(dc.toSeq.sorted))
            }
          val t0 = System.nanoTime()
          val won = tryCommit(next, stamped)
          pending.synchronized {
            pending.publishNanos += System.nanoTime() - t0
            if (won) TxLogTable.lastMetrics = Some(TxLogTable.CommitMetrics(
              next, stamped.action, pending.files, pending.rows,
              pending.bytes, pending.writeNanos, pending.statsMergeNanos,
              pending.publishNanos))
          }
          if (won) return next
      }
      tries += 1
    }
    throw new IllegalStateException(
      s"commit contention: lost $maxRetries consecutive races on $root")
  }

  /** Union of the snapshot schema and an incoming batch's schema —
    * additive evolution: existing fields keep their position and
    * type, genuinely new fields append at the end. A field present in
    * both with a DIFFERENT type is a hard error (silent coercion is
    * how a corpus store rots); a field the batch omits stays in the
    * table schema (its rows read as null from the new files, exactly
    * as new fields read as null from old files).
    */
  private def evolveSchema(current: StructType,
      incoming: StructType,
      cmap: Map[String, String] = Map.empty,
      dropped: Seq[String] = Nil): StructType = {
    incoming.fields.foreach { f =>
      current.fields.find(_.name.equalsIgnoreCase(f.name)).foreach { c =>
        require(c.dataType == f.dataType,
          s"schema evolution cannot change type of '${c.name}': " +
            s"${c.dataType.simpleString} -> ${f.dataType.simpleString}")
      }
    }
    val novel = incoming.fields.filterNot(f =>
      current.fields.exists(_.name.equalsIgnoreCase(f.name)))
    // a NEW column must not shadow a renamed column's stable physical
    // name — files could no longer tell the two apart
    novel.foreach { f =>
      require(!cmap.values.exists(_.equalsIgnoreCase(f.name)),
        s"schema evolution cannot add '${f.name}': the name is the " +
          "physical identity of a renamed column (pick another name)")
      require(!dropped.exists(_.equalsIgnoreCase(f.name)),
        s"schema evolution cannot add '${f.name}': the name is the " +
          "retired physical identity of a DROPPED column still stored " +
          "in data files (pick another name)")
    }
    val widened = current.fields.map { c =>
      val in = incoming.fields.find(_.name.equalsIgnoreCase(c.name))
      // a column absent from ANY contributing file must admit nulls
      if (in.isEmpty && !c.nullable) c.copy(nullable = true) else c
    }
    StructType(widened ++ novel.map(_.copy(nullable = true)))
  }

  /** Blind append (S8): stage once, then bid for versions until one
    * lands. Appends never conflict semantically — no recompute needed,
    * the staged dir is reused across retries. The committed schema is
    * the EVOLVED union of snapshot and batch schemas, so an append
    * may add columns (old files read them as null) without rewriting
    * anything. `statsCols` records per-file ranges in the manifest
    * for [[readWhere]] skipping.
    */
  def append(df: DataFrame, sortCols: Seq[String] = Nil,
      maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    // pre-validate against the current snapshot so an invalid batch
    // (type change, retired-physical shadow) fails with ITS error
    // before any data is staged; the in-loop evolve stays authoritative
    locally {
      val v0 = currentVersion
      if (v0 >= 0) evolveSchema(manifestChainAt(v0)._2, df.schema,
        colMapAt(v0), droppedColsAt(v0).toSeq)
    }
    val cs0 = constraintsAt(currentVersion)
    val Staged(staged, _, stats) = stage(df, sortCols,
      checkConstraints = true, statsCols = statsCols, bloomCols = bloomCols)
    commitLoop(maxRetries) { v =>
      // staging enforced the constraints live at STAGING time; a
      // concurrent addConstraint would otherwise slip violating rows
      // under a live CHECK — when the set moved, re-validate the
      // already-staged data against the set this commit will assert
      if (v >= 0 && constraintsAt(v) != cs0)
        enforce(readPhysical(Seq(dataDir.resolve(staged).toString),
          df.schema, colMapAt(v)), constraintsAt(v)).foreach(_ => ())
      val schema =
        if (v < 0) df.schema
        else evolveSchema(manifestChainAt(v)._2, df.schema, colMapAt(v),
          droppedColsAt(v).toSeq)
      Some(Manifest(0L, "append", Seq(staged), schema.json,
        System.currentTimeMillis(), wrap(markers), stats))
    }
  }

  /** Full overwrite: last-writer-wins by design (no read dependency),
    * but still serialized through the version protocol.
    */
  def overwrite(df: DataFrame, sortCols: Seq[String] = Nil,
      maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    val cs0 = constraintsAt(currentVersion)
    val Staged(staged, _, stats) = stage(df, sortCols,
      checkConstraints = true, statsCols = statsCols, bloomCols = bloomCols)
    val schemaJson = df.schema.json
    commitLoop(maxRetries) { v =>
      if (v >= 0 && constraintsAt(v) != cs0)
        enforce(readPhysical(Seq(dataDir.resolve(staged).toString),
          df.schema, colMapAt(v)), constraintsAt(v)).foreach(_ => ())
      Some(Manifest(0L, "overwrite", Seq(staged), schemaJson,
        System.currentTimeMillis(), wrap(markers), stats))
    }
  }

  /** Predicate-scoped overwrite — the Delta `replaceWhere` idiom:
    * atomically replace exactly the rows matching `condition` with
    * `data`, FILE-granularly and without rewriting a single kept
    * byte. Every live file must be DECIDABLE under the predicate from
    * its skipping stats: dropped iff every row provably matches
    * ([[DataSkipping.mustMatch]] — file-constant predicate columns,
    * the clustered/PARTITIONED BY layout), kept iff no row can match
    * ([[DataSkipping.mayMatch]] false); a straddling file refuses
    * LOUDLY with MERGE/OPTIMIZE advice — file-granular replacement
    * must never silently drop or keep rows it cannot prove. Kept
    * files ride the new overwrite manifest as FILE-granular live
    * entries (protocol v5) with their stats carried forward, so
    * skipping and the census survive the swap; the whole dirs that
    * survive intact keep dir granularity. Inserted rows must
    * themselves satisfy `condition` (the Delta constraint-check
    * default) — anything else would leak rows outside the replaced
    * region. The replaced region's scale cost is METADATA: one
    * manifest, no data movement.
    */
  def replaceWhere(data: DataFrame, condition: Column,
      sortCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, maxRetries: Int = 20): Long = {
    val cs0 = constraintsAt(currentVersion)
    val Staged(staged, _, stats) = stage(data, sortCols,
      checkConstraints = true, statsCols = statsCols, bloomCols = bloomCols)
    requireStagedInRegion(staged, data.schema, condition)
    commitLoop(maxRetries) { v =>
      if (v >= 0 && constraintsAt(v) != cs0)
        enforce(readPhysical(Seq(dataDir.resolve(staged).toString),
          data.schema, colMapAt(v)), constraintsAt(v)).foreach(_ => ())
      val schema =
        if (v < 0) data.schema
        else evolveSchema(manifestChainAt(v)._2, data.schema, colMapAt(v),
          droppedColsAt(v).toSeq)
      Some(replaceWhereManifest(v, staged, schema, condition, stats))
    }
  }

  /** The native-V2 half of replaceWhere ([[TxLogBatchWrite]] with an
    * overwrite predicate): the writers already staged `dirName`; the
    * commit classifies the snapshot's files and publishes the swap.
    */
  private[sources] def commitStagedReplaceWhere(dirName: String,
      batchSchema: StructType, condition: Column,
      done: Seq[TxLogWriteDone], writeNanos: Long,
      validatedConstraints: Map[String, String] = Map.empty,
      maxRetries: Int = 20): Long = {
    val stats = sealStaged(dirName, None, done, writeNanos)
    requireStagedInRegion(dirName, batchSchema, condition)
    commitLoop(maxRetries) { v =>
      val cs = constraintsAt(v)
      if (cs.nonEmpty && cs != validatedConstraints)
        enforce(readPhysical(Seq(stagedDirPath(dirName)), batchSchema,
          colMapAt(v)), cs).foreach(_ => ())
      val schema =
        if (v < 0) batchSchema
        else evolveSchema(manifestChainAt(v)._2, batchSchema, colMapAt(v),
          droppedColsAt(v).toSeq)
      Some(replaceWhereManifest(v, dirName, schema, condition, stats))
    }
  }

  /** Inserted rows must satisfy the replaceWhere predicate (rows
    * where it is FALSE or NULL would land OUTSIDE the replaced
    * region — silent corruption of the untouched files' semantics).
    */
  private def requireStagedInRegion(dirName: String,
      batchSchema: StructType, condition: Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val stagedDf = readPhysical(Seq(dataDir.resolve(dirName).toString),
      batchSchema, currentColMap)
    require(stagedDf.filter(not(coalesce(condition, lit(false))))
        .isEmpty,
      "replaceWhere: the inserted batch contains rows NOT matching " +
        s"the predicate $condition; inserted rows must satisfy the " +
        "predicate they replace under (append them separately instead)")
  }

  /** One replaceWhere attempt at snapshot `v`: classify every live
    * file (drop / keep / refuse), carry kept stats forward, publish
    * kept entries + the staged dir as an overwrite.
    */
  private def replaceWhereManifest(v: Long, stagedDir: String,
      schema: StructType, condition: Column,
      stagedStats: Option[Map[String, FileStats]]): Manifest = {
    require(v >= 0, s"replaceWhere needs an existing table at $root")
    val (chain, schema0) = manifestChainAt(v)
    val cmap = colMapOf(chain)
    val phys = physSchema(schema0, cmap)
    val predExpr = toPhysicalExpr(
      org.apache.spark.sql.graft.bridge.catalystExpression(condition), cmap)
    val all: Map[String, FileStats] = fileStatsSplitAt(v) match {
      case Some((_, m, uncovered)) =>
        require(uncovered.isEmpty,
          "replaceWhere needs skipping stats on every live file to " +
            s"classify it (missing: ${uncovered.take(3).mkString(", ")}" +
            s"${if (uncovered.size > 3) ", …" else ""}); recommit those " +
            "files with statsCols, or use MERGE/DELETE")
        m
      case None => throw new IllegalStateException(
        s"live data dirs missing under $root")
    }
    // kept-file stats that already live in a parquet checkpoint keep
    // being served by it (the statsFile reference rides the new
    // manifest) — only previously-INLINE stats re-inline, so a
    // million-file replaceWhere never folds the checkpoint into JSON
    val priorInline: Map[String, FileStats] =
      chain.flatMap(_.stats.getOrElse(Map.empty)).toMap
    val priorCkpt: Option[String] = chain.flatMap(_.statsFile).lastOption
    val kept = Seq.newBuilder[String]
    val dropped = Seq.newBuilder[String]
    val keptStats = Map.newBuilder[String, FileStats]
    chain.flatMap(_.add).foreach { e =>
      val files: Seq[String] =
        if (e.contains("/")) Seq(e)
        else store.list(dataDir.resolve(e)).filter(_.endsWith(".parquet"))
          .map(f => s"$e/$f")
      val verdicts: Seq[(String, Boolean)] = files.map { f =>
        val fs = all(f)
        if (DataSkipping.mustMatch(predExpr, phys, fs)) (f, false)
        else if (!DataSkipping.mayMatch(predExpr, phys, fs)) (f, true)
        else throw new IllegalArgumentException(
          s"replaceWhere predicate is not file-decidable for $f: its " +
            "value range straddles the predicate. Cluster the table on " +
            "the predicate columns (PARTITIONED BY / OPTIMIZE ZORDER) " +
            "for file-granular replacement, or use MERGE/DELETE for " +
            "row-level semantics")
      }
      def keepStats(f: String): Unit =
        priorInline.get(f).foreach(fs => keptStats += f -> fs)
      if (verdicts.nonEmpty && verdicts.forall(_._2) && !e.contains("/")) {
        kept += e // the whole dir survives: keep dir granularity
        verdicts.foreach { case (f, _) => keepStats(f) }
      } else verdicts.foreach { case (f, keep) =>
        if (keep) { kept += f; keepStats(f) }
        else dropped += f
      }
    }
    val mergedStats = keptStats.result() ++ stagedStats.getOrElse(Map.empty)
    // CDC contract: `removed` names the dropped files so [[changes]]
    // emits a PRECISE delete+insert feed for this commit (the Delta
    // replaceWhere CDF shape). `cdc` stays None on purpose — a reader
    // that does not speak `removed` then falls back to the documented
    // blind-overwrite refresh contract (the whole post-image as
    // inserts), which is conservative-correct, never silently partial.
    // deletion vectors: a dropped file's every PHYSICAL row matches
    // the predicate, so dropping it drops its live rows correctly
    // regardless of vectors; kept files must keep theirs — carry the
    // state forward when any kept file is referenced (the CDC feed
    // reads the removed census DV-applied, so already-deleted rows
    // never resurface as deletes)
    Manifest(0L, "overwrite", kept.result() :+ stagedDir, schema.json,
      System.currentTimeMillis(),
      markers = Some(Map("replace_where" -> condition.toString)),
      stats = if (mergedStats.isEmpty) None else Some(mergedStats),
      statsFile = priorCkpt,
      dv = carriedDvFor(chain, kept.result()),
      removed = if (dropped.result().isEmpty) None
        else Some(dropped.result()))
  }

  /** Transactional MERGE (S10/J2 semantics — latest-wins by
    * `precedence` per `key`): optimistic read-modify-write. Each
    * attempt computes the latest-wins window of
    * [[graft.operators.Upsert.mergeByKey]] against the CURRENT
    * snapshot and bids for the next version; losing the race discards
    * the attempt's staged dir (an orphan for vacuum) and recomputes on
    * the winner's state — no update can be lost, because a commit at
    * version v+1 always derives from a full read of version v.
    *
    * Cost: copy-on-write at FILE granularity. Live files are
    * classified against the SOURCE KEYS through the manifest
    * min/max + Bloom stats ([[sourceKeyPredicate]]): a file that
    * provably holds no source key (and no duplicate-key group — the
    * latest-wins window collapses those even unnamed, witnessed by
    * [[dupKeyFileCensus]]'s key-projection scan) rides the new
    * manifest verbatim with stats and deletion vectors carried
    * forward; only may-match files join the merge and rewrite. A
    * 0.1% delta into a clustered 100 TB table rewrites ~the delta's
    * files plus one key-column scan — not the table. When NO file may
    * match (all-new keys), the merge commits as a plain APPEND of the
    * deduped batch.
    *
    * One write job stages the merged rows, their skipping stats and
    * the commit's typed change rows together: the change feed is
    * routed from the same window ([[routedMerge]]), never re-derived
    * from the staged result.
    *
    * `assumeKeyUnique = true` skips the duplicate-key census — the
    * caller asserts the snapshot holds at most one row per key (true
    * by construction for a table whose history is merges /
    * insert-ignores / compactions), making the merge cost purely
    * delta-proportional at 100 TB. With the assertion false and
    * duplicates present in KEPT files, those groups would survive
    * uncollapsed — that is the contract being opted out of.
    */
  def merge(updates0: DataFrame, key: Seq[String], precedence: Seq[Column],
      sortCols: Seq[String] = Nil, maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      assumeKeyUnique: Boolean = false): Long = {
    // the batch feeds three consumers (key-predicate distinct, the
    // latest-wins join, the CDC touched-key set) — materialize it once
    // (MEMORY_AND_DISK) instead of re-executing an arbitrarily
    // expensive upstream pipeline per consumer; also pins one
    // consistent snapshot of a non-deterministic source across
    // commit retries. Delta-sized by the merge contract; released on
    // return — unless the CALLER already cached it (persist returns
    // the same Dataset), in which case unpersisting here would
    // silently drop their cache (ADVICE r17).
    val callerCached = updates0.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val updates = if (callerCached) updates0 else updates0.persist()
    try commitLoop(maxRetries) { v =>
      val (chain, schema) = manifestChainAt(v)
      val cmap = colMapOf(chain)
      val keyPred = sourceKeyPredicate(updates, key, schema, cmap,
        nullKeysMatch = true)
      val dupFiles =
        if (assumeKeyUnique) Set.empty[String]
        else dupKeyFileCensus(v, key)
      val split = classifyTouched(v, keyPred, forced = dupFiles)
      TxLogTable.lastDmlRewritten = split.touchedCount
      val target =
        if (split.touchedPaths.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else readPathsAt(v, split.touchedPaths)
      val (routed, mergedSchema) =
        routedMerge(target, updates, key, precedence)
      val Staged(staged, Some(cdcDir), newStats) = stage(routed, sortCols,
        checkConstraints = true, statsCols = statsCols, routed = true)
      if (split.touchedPaths.isEmpty && chain.flatMap(_.add).nonEmpty)
        // pure-insert merge on a non-empty table: an append extends
        // the live set without re-asserting it
        Some(Manifest(0L, "append", Seq(staged), mergedSchema.json,
          System.currentTimeMillis(), wrap(markers), newStats,
          Some(Seq(cdcDir))))
      else {
        val mergedStats =
          split.keptStats ++ newStats.getOrElse(Map.empty)
        Some(Manifest(0L, "overwrite", split.kept :+ staged,
          mergedSchema.json, System.currentTimeMillis(), wrap(markers),
          if (mergedStats.isEmpty) None else Some(mergedStats),
          Some(Seq(cdcDir)), split.keptCkpt,
          carriedDvFor(chain, split.kept)))
      }
    }
    finally { if (!callerCached) updates.unpersist(); () }
  }

  /** The latest-wins merge of [[graft.operators.Upsert.mergeByKey]]
    * (one row per key, first by `precedence`) with its change feed
    * ROUTED from the same window: per-key counts of target and update rows over the
    * partition the window already sorts — no new exchange. A key
    * enters the feed when no part of it is null and the batch names it
    * or the target holds it more than once (a latest-wins collapse of
    * an unnamed duplicate group): each of its target rows is an
    * `update_preimage` and its winner an `update_postimage`, or an
    * `insert` when the target never held the key. A winner equal to
    * its pre-image is a no-op pair that cancels in any additive fold.
    * Returns the routed frame and the data schema the commit records.
    */
  private def routedMerge(target: DataFrame, updates: DataFrame,
      key: Seq[String], precedence: Seq[Column]): (DataFrame, StructType) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import TxLogTable.Leg
    val cols = target.columns.toSeq
    val unioned = target.withColumn("__is_t", lit(true)).unionByName(
      updates.select(cols.map(col): _*).withColumn("__is_t", lit(false)))
    val w = Window.partitionBy(key.map(col): _*).orderBy(precedence: _*)
    val group =
      w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = unioned
      .withColumn("__rn", row_number().over(w))
      .withColumn("__nt", count(when(col("__is_t"), 1)).over(group))
      .withColumn("__nu", count(when(!col("__is_t"), 1)).over(group))
    val inFeed = key.map(col(_).isNotNull).reduce(_ && _) &&
      (col("__nu") > 0 || col("__nt") > 1)
    val winner = col("__rn") === 1
    (fanOut(ranked, cols, Seq(
      Leg(winner, lit(null).cast("string")),
      Leg(col("__is_t") && inFeed, lit("update_preimage")),
      Leg(winner && inFeed,
        when(col("__nt") > 0, "update_postimage").otherwise("insert")))),
      unioned.drop("__is_t").schema)
  }

  /** Transactional row-level DELETE (the third core DML next to
    * [[merge]]/[[mergeConditional]]): drop every snapshot row where
    * `condition` is TRUE (null = kept — SQL WHERE semantics), in the
    * same optimistic commit loop, so interleaved DML serializes with
    * no lost update. The CDC dir carries the dropped rows as `delete`
    * change rows, so incremental consumers ([[changes]]/[[changeFeed]],
    * the q125/q126 view-maintenance tier) see row-level deletes
    * without snapshot diffing. Kept and dropped rows leave the same
    * scan of the touched files in one write job, routed to the data
    * and change dirs by the writers.
    *
    * Cost: copy-on-write at FILE granularity — every live file whose
    * skipping stats PROVE no row matches `condition` rides the new
    * manifest verbatim ([[classifyTouched]]: dir-granular where a
    * whole dir survives, protocol-v5 file entries where it splits),
    * with its stats and any deletion vectors carried forward; only
    * the may-match files are read and rewritten. A point delete on a
    * clustered 100 TB table rewrites ~one file, not the table. Files
    * without stats rewrite (today's bound); stats prove no match at
    * all ⇒ a metadata-only no-op commit (marker parity with the
    * match case).
    */
  def delete(condition: Column, sortCols: Seq[String] = Nil,
      maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions._
    commitLoop(maxRetries) { v =>
      val (chain, schema) = manifestChainAt(v)
      val cond = coalesce(condition, lit(false))
      val cmap = colMapOf(chain)
      // classify on the RAW condition (the coalesce null-guard is row
      // semantics — a null-evaluating row is a non-match either way —
      // but it would hide the predicate from the stats evaluator)
      val predExpr = toPhysicalExpr(
        org.apache.spark.sql.graft.bridge.catalystExpression(condition),
        cmap)
      val split = classifyTouched(v, predExpr)
      TxLogTable.lastDmlRewritten = split.touchedCount
      if (split.touchedPaths.isEmpty)
        // stats prove no row matches: metadata-only commit (marker
        // parity), live set and deletion vectors unchanged
        Some(Manifest(0L, "append", Nil, schema.json,
          System.currentTimeMillis(), wrap(markers), None, Some(Nil)))
      else {
        // one scan, one job: kept rows to the data dir, matched rows
        // to the change dir as `delete`s
        val target = readPathsAt(v, split.touchedPaths)
        val Staged(staged, Some(cdcDir), newStats) = stage(
          target.withColumn(TxLogTable.ChangeType, when(cond, "delete")),
          sortCols, statsCols = statsCols, bloomCols = bloomCols,
          routed = true)
        val merged = split.keptStats ++ newStats.getOrElse(Map.empty)
        Some(Manifest(0L, "overwrite", split.kept :+ staged, schema.json,
          System.currentTimeMillis(), wrap(markers),
          if (merged.isEmpty) None else Some(merged),
          Some(Seq(cdcDir)), split.keptCkpt,
          carriedDvFor(chain, split.kept)))
      }
    }
  }

  /** Row-level DELETE without rewriting data (the Delta/Iceberg
    * deletion-vector design, merge-on-read): instead of [[delete]]'s
    * snapshot rewrite, commit a sidecar naming the (file, position)
    * pairs the condition matched; every read anti-joins the sidecars
    * ([[applyDv]]). A 1-row delete on a 100 TB table is then a
    * deleted-rows-sized commit — the copy-on-write [[delete]] remains
    * for when a physical rewrite is wanted, and any overwrite-class
    * maintenance commit ([[compact]], [[merge]], [[delete]]) folds
    * the vectors into rewritten files and resets them.
    *
    * The staged sidecar doubles as the commit's CDC dir: its rows are
    * the full deleted rows (plus `_dv_file`/`_dv_pos`/`_change_type`
    * columns the CDC read ignores), so [[changes]] emits the deletes
    * with zero extra IO. Same optimistic loop and WHERE semantics
    * (null = kept) as the rewrite path; already-deleted positions
    * never re-match because the scan applies existing vectors first.
    */
  def deleteVectored(condition: Column, maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions._
    commitLoop(maxRetries) { v =>
      val (chain, schema) = manifestChainAt(v)
      val live = chain.flatMap(_.add)
      if (live.isEmpty)
        // nothing to delete from; still commit (marker/idempotency
        // parity with delete()); dv = None inherits the (empty) state
        Some(Manifest(0L, "append", Nil, schema.json,
          System.currentTimeMillis(), wrap(markers), None, Some(Nil)))
      else {
        val prevDv = dvDirsOf(chain)
        val cmap = colMapOf(chain)
        val cond = coalesce(condition, lit(false))
        // scan only the files the manifest stats cannot rule out for
        // `condition` — a point delete on a stats-covered 100 TB table
        // tags ~one file, not the whole snapshot. Skipped files prove
        // no row matches, so they contribute nothing to the sidecar.
        // The RAW condition feeds the skipping evaluator (the coalesce
        // null-guard would hide it); the row filter keeps the guard.
        val mayMatch = scanPathsAt(v, condition)
        if (mayMatch.isEmpty)
          // stats prove no row matches: a no-op delete commit (marker
          // parity), inheriting the existing vectors unchanged
          Some(Manifest(0L, "append", Nil, schema.json,
            System.currentTimeMillis(), wrap(markers), None, Some(Nil),
            None, Some(prevDv)))
        else {
        // tag positions on the PHYSICAL scan (metadata columns don't
        // survive a Project), then surface logical names for `cond`
        val taggedPhys = spark.read.schema(physSchema(schema, cmap))
          .parquet(mayMatch: _*)
          .withColumn("_dv_file", TxLogTable.dvFileKey)
          .withColumn("_dv_pos", col("_metadata.row_index"))
        val tagged =
          if (cmap.isEmpty) taggedPhys
          else taggedPhys.select(
            (schema.fieldNames.map(n =>
              col(cmap.getOrElse(n, n)).as(n)).toIndexedSeq :+
              col("_dv_file") :+ col("_dv_pos")): _*)
        val alive =
          if (prevDv.isEmpty) tagged
          else {
            val dv = spark.read.schema(dvReadSchema)
              .parquet(prevDv.map(d => dataDir.resolve(d).toString): _*)
              .select(col("_dv_file").as("__pf"), col("_dv_pos").as("__pp"))
            tagged.join(dv, tagged("_dv_file") === dv("__pf") &&
              tagged("_dv_pos") === dv("__pp"), "left_anti")
          }
        // rebalance the sidecar: the shuffle carries DELETED ROWS ONLY
        // (scan parallelism untouched), and AQE coalesces it — a point
        // delete stages one small file instead of one near-empty file
        // per surviving scan task; a bulk delete still writes parallel
        val staged = stage(
          alive.filter(cond).withColumn("_change_type", lit("delete"))
            .hint("rebalance")).dir
        Some(Manifest(0L, "append", Nil, schema.json,
          System.currentTimeMillis(), wrap(markers), None,
          Some(Seq(staged)), None, Some(prevDv :+ staged)))
        }
      }
    }
  }

  /** Row-level UPDATE without rewriting data (merge-on-read, the DV
    * dual of [[update]] exactly as [[deleteVectored]] is of
    * [[delete]]): the matched rows' OLD versions are shadowed by a
    * deletion-vector sidecar naming their (file, position) pairs, and
    * their post-images land as a plain append — a 1-row update on a
    * 100 TB table commits changed-rows-sized data, no file rewrite.
    * Readers see the post-state immediately ([[applyDv]] drops the
    * old versions, the appended dir supplies the new). Any
    * overwrite-class commit (compact / merge / delete) later folds
    * the vectors away.
    *
    * CDC: the sidecar doubles as the `update_preimage` change dir
    * (its rows are the full pre-image plus `_dv_file`/`_dv_pos`/
    * `_change_type` columns the CDC read ignores); the appended
    * post-image dir rides untagged — the typed feed's
    * `coalesce(_change_type, "update_postimage")` fallback tags it.
    * Same optimistic loop, WHERE semantics (null = untouched), and
    * stats-pruned matching scan as [[deleteVectored]].
    */
  def updateVectored(condition: Column, set: Map[String, Column],
      maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions._
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    commitLoop(maxRetries) { v =>
      val (chain, schema) = manifestChainAt(v)
      set.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"UPDATE assigns unknown column $c"))
      val live = chain.flatMap(_.add)
      val cond = coalesce(condition, lit(false))
      val mayMatch =
        if (live.isEmpty) Nil else scanPathsAt(v, condition)
      if (mayMatch.isEmpty)
        // provably no matching row: metadata-only commit (marker
        // parity), vectors inherited unchanged
        Some(Manifest(0L, "append", Nil, schema.json,
          System.currentTimeMillis(), wrap(markers), None, Some(Nil)))
      else {
        val prevDv = dvDirsOf(chain)
        val cmap = colMapOf(chain)
        val taggedPhys = spark.read.schema(physSchema(schema, cmap))
          .parquet(mayMatch: _*)
          .withColumn("_dv_file", TxLogTable.dvFileKey)
          .withColumn("_dv_pos", col("_metadata.row_index"))
        val tagged =
          if (cmap.isEmpty) taggedPhys
          else taggedPhys.select(
            (schema.fieldNames.map(n =>
              col(cmap.getOrElse(n, n)).as(n)).toIndexedSeq :+
              col("_dv_file") :+ col("_dv_pos")): _*)
        val alive =
          if (prevDv.isEmpty) tagged
          else {
            val dv = spark.read.schema(dvReadSchema)
              .parquet(prevDv.map(d => dataDir.resolve(d).toString): _*)
              .select(col("_dv_file").as("__pf"),
                col("_dv_pos").as("__pp"))
            tagged.join(dv, tagged("_dv_file") === dv("__pf") &&
              tagged("_dv_pos") === dv("__pp"), "left_anti")
          }
        val hit = alive.filter(cond)
        // sidecar = DV entries + full pre-images (the CDC pre leg)
        val sidecar = stage(
          hit.withColumn("_change_type", lit("update_preimage"))
            .hint("rebalance")).dir
        // post-images: assignments applied, cast to the column's
        // existing type (schema invariant under UPDATE), constraints
        // enforced — new row versions must satisfy the live CHECKs
        val post = hit.drop("_dv_file", "_dv_pos")
        val applied = post.select(schema.fields.map { f =>
          set.get(f.name) match {
            case Some(e) => e.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }.toIndexedSeq: _*)
        val Staged(postDir, _, postStats) = stage(
          applied.hint("rebalance"), checkConstraints = true,
          statsCols = statsCols, bloomCols = bloomCols)
        Some(Manifest(0L, "append", Seq(postDir), schema.json,
          System.currentTimeMillis(), wrap(markers), postStats,
          Some(Seq(sidecar, postDir)), None,
          Some(prevDv :+ sidecar)))
      }
    }
  }

  /** Transactional row-level UPDATE: assign `set` expressions (over
    * the current row) wherever `condition` is TRUE, optimistic-commit
    * like [[delete]]. Assignments cast to the column's existing type
    * (the schema is invariant under UPDATE — widening is an append/
    * merge concern). CDC carries `update_preimage`/`update_postimage`
    * pairs for the touched rows, routed from the same single scan and
    * write job as the rewritten data.
    */
  def update(condition: Column, set: Map[String, Column],
      sortCols: Seq[String] = Nil, maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions._
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    commitLoop(maxRetries) { v =>
      val (chain, schema) = manifestChainAt(v)
      set.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"UPDATE assigns unknown column $c"))
      val cond = coalesce(condition, lit(false))
      // file-granular copy-on-write (same shape as [[delete]]): only
      // files whose stats admit a matching row are read and rewritten.
      // Classified on the RAW condition — the coalesce null-guard is
      // row semantics, invisible to the stats evaluator.
      val cmap = colMapOf(chain)
      val predExpr = toPhysicalExpr(
        org.apache.spark.sql.graft.bridge.catalystExpression(condition),
        cmap)
      val split = classifyTouched(v, predExpr)
      TxLogTable.lastDmlRewritten = split.touchedCount
      if (split.touchedPaths.isEmpty)
        Some(Manifest(0L, "append", Nil, schema.json,
          System.currentTimeMillis(), wrap(markers), None, Some(Nil)))
      else {
        // one scan, one job: every row's post-state to the data dir,
        // each matched row's pre/post pair to the change dir; the
        // condition and assignments evaluate once per row
        val target = readPathsAt(v, split.touchedPaths)
        val cols = target.columns.toSeq
        val assigned = schema.fields.toSeq.collect {
          case f if set.contains(f.name) => f.name ->
            when(col("__cond"), set(f.name).cast(f.dataType))
              .otherwise(col(f.name))
        }
        val prepared = target.withColumn("__cond", cond).select(
          (cols.map(col) :+ col("__cond")) ++
            assigned.map { case (c, e) => e.as(s"__new_$c") }: _*)
        val post = assigned.map { case (c, _) => c -> col(s"__new_$c") }.toMap
        val Staged(staged, Some(cdcDir), newStats) = stage(
          fanOut(prepared, cols, Seq(
            TxLogTable.Leg(lit(true), lit(null).cast("string"), post),
            TxLogTable.Leg(col("__cond"), lit("update_preimage")),
            TxLogTable.Leg(col("__cond"), lit("update_postimage"), post))),
          sortCols, checkConstraints = true, statsCols = statsCols,
          bloomCols = bloomCols, routed = true)
        val merged = split.keptStats ++ newStats.getOrElse(Map.empty)
        Some(Manifest(0L, "overwrite", split.kept :+ staged, schema.json,
          System.currentTimeMillis(), wrap(markers),
          if (merged.isEmpty) None else Some(merged),
          Some(Seq(cdcDir)), split.keptCkpt,
          carriedDvFor(chain, split.kept)))
      }
    }
  }

  /** Full conditional MERGE INTO (the Delta/SQL:2003 shape): ordered
    * WHEN MATCHED clauses (update / delete, each optionally guarded by
    * a predicate over target alias `t` and source alias `s`) plus an
    * optional WHEN NOT MATCHED insert guard. First matching clause
    * wins; a matched row no clause claims is kept unchanged. Runs in
    * the same optimistic commit loop as [[merge]] — every attempt
    * recomputes against the current snapshot, so interleaved
    * conditional merges serialize with no lost update.
    *
    * Semantics notes (all Delta-documented behaviors):
    *   - `source` must contain every target column (extra columns are
    *     visible to conditions but not written); an update/insert
    *     writes the source row's target-schema projection.
    *   - `withSchemaEvolution` (Delta's `MERGE WITH SCHEMA
    *     EVOLUTION` / autoMerge): source-only columns WIDEN the
    *     target schema additively (same rules as evolved appends —
    *     type conflicts and retired-physical shadows reject);
    *     target-only columns the source lacks keep their target value
    *     on UPDATE and null-fill on INSERT — the schema-drifting CDC
    *     feed lands without pre-conforming.
    *   - Multiple source rows matching one target key make the MERGE
    *     ambiguous — rejected up front (the check is one bounded
    *     aggregate: first duplicated key or nothing).
    *   - Keys join by plain equality: null-keyed rows never match
    *     (null-keyed source rows flow to the NOT MATCHED branch).
    *
    * Plan shape: ONE full-outer shuffle join on the key plus a
    * scan-stage when-chain projection — identical cost to the
    * latest-wins [[merge]]; the clause logic adds no exchange. The
    * typed change rows are routed from the join's `__action` in the
    * same write job (a clause whose condition reads the target adds
    * one window over the join output to fold a key's verdicts).
    *
    * Covers the reference's conditional upsert tier
    * (monthly_price_paid_data.py:140-160 ON CONFLICT DO UPDATE;
    * rightmove_outcodes.py:124-128 keyed UPDATE) generalized to the
    * delete arm Postgres expresses as a separate DELETE statement
    * inside the same transaction.
    */
  def mergeConditional(source0: DataFrame, key: Seq[String],
      whenMatched: Seq[TxLogTable.MergeClause],
      insertWhenNotMatched: Boolean = true,
      notMatchedCondition: Option[String] = None,
      sortCols: Seq[String] = Nil, maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      withSchemaEvolution: Boolean = false): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import TxLogTable.{MatchedDelete, MatchedUpdate}
    // four consumers of the batch (ambiguity gate, key-predicate
    // distinct, the full-outer join, the CDC touched-key set) — one
    // materialization instead of four executions of the upstream
    // pipeline, plus one consistent snapshot across commit retries
    // (the [[merge]] rationale); delta-sized, released on return —
    // unless the caller already cached it (see [[merge]])
    val callerCached = source0.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val source = if (callerCached) source0 else source0.persist()
    try {
    val dupKey = source.groupBy(key.map(source.col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    require(dupKey.isEmpty,
      s"ambiguous MERGE: source has multiple rows for key ${dupKey.toSeq}")
    commitLoop(maxRetries) { v =>
      val (chain, schema) = manifestChainAt(v)
      val cmap = colMapOf(chain)
      // file-granular copy-on-write: only files that may hold a
      // SOURCE key join the full-outer merge (keys join by plain
      // equality here — null keys never match, so no IS NULL arm);
      // unmatched target rows in kept files pass through VERBATIM,
      // exactly the clause semantics
      val keyPred = sourceKeyPredicate(source, key, schema, cmap,
        nullKeysMatch = false)
      val split = classifyTouched(v, keyPred)
      TxLogTable.lastDmlRewritten = split.touchedCount
      // schema evolution: source-only columns widen the schema
      // additively (the evolved-append rules); the target side pads
      // them with typed nulls so both join sides speak evolved names
      val evolved: StructType =
        if (!withSchemaEvolution) schema
        else evolveSchema(schema, source.schema, cmap,
          droppedColsAt(v).toSeq)
      val target0 =
        if (split.touchedPaths.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else readPathsAt(v, split.touchedPaths)
      val target = evolved.fields.foldLeft(target0) { (df, f) =>
        if (df.columns.exists(_.equalsIgnoreCase(f.name))) df
        else df.withColumn(f.name, lit(null).cast(f.dataType))
      }
      val tgtCols = target.columns.toSeq
      if (!withSchemaEvolution) {
        val missing = tgtCols.filterNot(source.columns.contains)
        require(missing.isEmpty,
          s"MERGE source lacks target columns: ${missing.mkString(", ")}" +
            " (pass withSchemaEvolution=true to null-fill inserts)")
      }
      def srcHas(c: String): Boolean =
        source.columns.exists(_.equalsIgnoreCase(c))
      // presence markers survive the full-outer join where every data
      // column (keys included) may be legitimately null on one side;
      // `__nt` counts the target rows of each key (a window over the
      // key partitioning the join reuses — no new exchange)
      val t = target.withColumn("__t_present", lit(true))
        .withColumn("__nt", count(lit(1)).over(
          Window.partitionBy(key.map(target.col): _*)))
        .alias("t")
      val s = source.withColumn("__s_present", lit(true)).alias("s")
      val keyCond = key.map(k => col(s"t.$k") === col(s"s.$k"))
        .reduce(_ && _)
      val j = t.join(s, keyCond, "full_outer")
      def condOf(c: Option[String]): Column = c.map(expr).getOrElse(lit(true))
      val KEEP = 0; val USE_SRC = 1; val DROP = 2; val INS = 3
      // first-clause-wins: build the else-chain from the last clause in
      val matchedAction = whenMatched.foldRight(lit(KEEP): Column) {
        case (MatchedUpdate(c), els) => when(condOf(c), USE_SRC).otherwise(els)
        case (MatchedDelete(c), els) => when(condOf(c), DROP).otherwise(els)
      }
      val insertAction =
        if (!insertWhenNotMatched) lit(DROP)
        else when(condOf(notMatchedCondition), INS).otherwise(DROP)
      val tPresent = col("t.__t_present").isNotNull
      val sPresent = col("s.__s_present").isNotNull
      val action =
        when(tPresent && !sPresent, KEEP)
        .when(sPresent && !tPresent, insertAction)
        .otherwise(matchedAction)
      val kept = col("__action") =!= DROP
      // CDC routed from the same pass: a key enters the feed when no
      // part of it is null and the source names it or the target holds
      // it more than once; its target rows are pre-images (`delete`
      // when no row of the key survives), its surviving rows
      // post-images (`insert` when the target never held it). Whether
      // ANY row of a key survives is the row's own verdict when every
      // clause reads only the source (one source row per key ⇒ one
      // action per key); a clause reading the target needs the key's
      // verdicts folded over a window of the join output.
      val keyGroup = key.map(k => coalesce(col(s"t.$k"), col(s"s.$k")))
      val keySurvives =
        if (whenMatched.forall(c => readsSourceOnly(c.condition))) kept
        else max(kept).over(Window.partitionBy(keyGroup: _*))
      val prepared = j.withColumn("__action", action).select(
        tgtCols.map { c =>
          // UPDATE writes source columns and keeps target-only ones;
          // INSERT writes source columns and null-fills the rest
          val upd = if (srcHas(c)) col(s"s.$c") else col(s"t.$c")
          val ins = if (srcHas(c)) col(s"s.$c")
            else lit(null).cast(evolved(evolved.fieldIndex(c)).dataType)
          when(col("__action") === USE_SRC, upd)
            .when(col("__action") === INS, ins)
            .otherwise(col(s"t.$c")).as(c)
        } ++ tgtCols.map(c => col(s"t.$c").as(s"__pre_$c")) ++ Seq(
          kept.as("__kept"), tPresent.as("__tp"), keySurvives.as("__ks"),
          (keyGroup.map(_.isNotNull).reduce(_ && _) &&
            (sPresent || col("t.__nt") > 1)).as("__feed")): _*)
      val mergedSchema = prepared.select(tgtCols.map(col): _*).schema
      val Staged(staged, Some(cdcDir), newStats) = stage(
        fanOut(prepared, tgtCols, Seq(
          TxLogTable.Leg(col("__kept"), lit(null).cast("string")),
          TxLogTable.Leg(col("__tp") && col("__feed"),
            when(col("__ks"), "update_preimage").otherwise("delete"),
            tgtCols.map(c => c -> col(s"__pre_$c")).toMap),
          TxLogTable.Leg(col("__kept") && col("__feed"),
            when(col("__tp"), "update_postimage").otherwise("insert")))),
        sortCols, checkConstraints = true, statsCols = statsCols,
        routed = true)
      if (split.touchedPaths.isEmpty && chain.flatMap(_.add).nonEmpty)
        Some(Manifest(0L, "append", Seq(staged), mergedSchema.json,
          System.currentTimeMillis(), wrap(markers), newStats,
          Some(Seq(cdcDir))))
      else {
        val mergedStats =
          split.keptStats ++ newStats.getOrElse(Map.empty)
        Some(Manifest(0L, "overwrite", split.kept :+ staged,
          mergedSchema.json, System.currentTimeMillis(), wrap(markers),
          if (mergedStats.isEmpty) None else Some(mergedStats),
          Some(Seq(cdcDir)), split.keptCkpt,
          carriedDvFor(chain, split.kept)))
      }
    }
    } finally { if (!callerCached) source.unpersist(); () }
  }

  /** Whether a MERGE clause condition reads only `s.`-qualified
    * (source) columns — then every target row a source row matches
    * gets the same action. Anything else, unqualified names included,
    * counts as reading the target.
    */
  private def readsSourceOnly(condition: Option[String]): Boolean =
    condition.forall(c => spark.sessionState.sqlParser.parseExpression(c)
      .collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts
      }.forall(p => p.length > 1 && p.head.equalsIgnoreCase("s")))

  /** Transactional insert-ignore (S9/J1): same optimistic loop, rows of
    * `updates` whose key exists in the snapshot are dropped. Committed
    * as an APPEND of only the new rows — concurrent insert-ignores of
    * disjoint keys both land without rewriting the table; the
    * recompute-on-retry keeps the key-uniqueness invariant when they
    * overlap.
    */
  def insertIgnore(updates: DataFrame, key: Seq[String],
      maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil): Long =
    commitLoop(maxRetries) { v =>
      val snap = readAt(v)
      val newRows = updates.dropDuplicates(key)
        .join(snap.select(key.map(snap.col): _*).distinct(), key, "left_anti")
        .select(snap.columns.map(updates.col).toIndexedSeq: _*)
      // empty appends still commit: idempotent-replay markers rely on
      // the version advancing even when every row was a duplicate
      val Staged(staged, _, stats) = stage(newRows, checkConstraints = true,
        statsCols = statsCols)
      Some(Manifest(0L, "append", Seq(staged),
        snap.schema.json, System.currentTimeMillis(), wrap(markers), stats))
    }

  // ── maintenance ───────────────────────────────────────────────────

  // ── parquet stats checkpoints ─────────────────────────────────────

  private def ckptPath(name: String): Path = logDir.resolve(name)

  /** Stage the chain's folded per-file stats as a parquet checkpoint
    * under `_log/` (inert until a manifest references it, like a data
    * dir): the union of the chain's INLINE JSON stats and the rows of
    * any prior checkpoint the chain references — computed as a Spark
    * union, so folding a million-file history never materializes the
    * old checkpoint on the driver. Returns None when the chain carries
    * no stats at all.
    */
  private def stageCkptStats(chain: List[Manifest]): Option[String] = {
    import spark.implicits._
    val inline: Map[String, FileStats] =
      chain.flatMap(_.stats.getOrElse(Map.empty)).toMap
    val prior = chain.flatMap(_.statsFile)
    if (inline.isEmpty && prior.isEmpty) return None
    // restrict carried rows to files still under a live dir: a prior
    // checkpoint may cover dirs an overwrite since dropped
    val liveKeys = chain.flatMap(_.add).toSet
    val inlineDs = inline.toSeq
      .map { case (f, fs) => TxLogTable.toCkptRow(f, fs) }.toDS()
    val priorDs = prior.map(p => spark.read
      .schema(inlineDs.schema).parquet(ckptPath(p).toString)
      .as[TxLogTable.CkptStatRow])
    val all = (priorDs :+ inlineDs).reduce(_.unionByName(_))
      .filter(r => liveKeys.contains(r.file.takeWhile(_ != '/')) ||
        liveKeys.contains(r.file))
    val name = s"ckpt-${UUID.randomUUID()}.parquet"
    all.write.parquet(ckptPath(name).toString)
    Some(name)
  }

  /** `(coveredDirs, survivingFiles)` of a distributed prune over one
    * stats checkpoint: executor-side [[DataSkipping.mayMatch]] per stat
    * row, so the driver collects only the dir census and the MATCHED
    * file names — bounded by selectivity, never by table file count.
    */
  private def pruneCkpt(name: String, schema: StructType,
      filterExpr: org.apache.spark.sql.catalyst.expressions.Expression)
      : (Set[String], Set[String]) = {
    import spark.implicits._
    val template = Seq.empty[TxLogTable.CkptStatRow].toDS()
    val ds = spark.read.schema(template.schema)
      .parquet(ckptPath(name).toString).as[TxLogTable.CkptStatRow]
    val covered = ds.map(_.file.takeWhile(_ != '/'))
      .distinct().collect().toSet
    val surviving = ds.filter { r =>
      val (_, fs) = TxLogTable.fromCkptRow(r)
      DataSkipping.mayMatch(filterExpr, schema, fs)
    }.map(_.file).collect().toSet
    (covered, surviving)
  }

  /** Version of the newest parquet-stats checkpoint, per the
    * `_log/_last_checkpoint` pointer (the Delta discovery contract: a
    * reader of a long log jumps here instead of listing history).
    * Correctness never depends on it — manifests reference their
    * stats file directly — it is the O(1) discovery hint plus the
    * audit record.
    */
  def lastCheckpoint: Option[Long] = {
    val p = logDir.resolve("_last_checkpoint")
    if (!store.exists(p)) None
    else "\"version\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(new String(store.readAllBytes(p),
        StandardCharsets.UTF_8))
      .map(_.group(1).toLong)
  }

  private def writeLastCheckpoint(version: Long, statsFile: Option[String]): Unit = {
    val sf = statsFile.fold("")(s => s""","statsFile":"$s"""")
    // LWW pointer, never correctness-bearing: the owner picks atomic
    // swap (POSIX) or plain PUT (object store) as the store allows
    pub.overwrite(store.fs, logDir.resolve("_last_checkpoint"),
      s"""{"version":$version$sf}""".getBytes(StandardCharsets.UTF_8))
  }

  /** Metadata-only history fold: commit an `overwrite` manifest listing
    * the CURRENT live set (no data rewrite). Readers of any later
    * version replay at most back to here — the log-growth bound that
    * keeps planning O(1) over an append-heavy table.
    *
    * Skipping stats fold into a PARQUET checkpoint file referenced by
    * the manifest (`statsFile`), not into the manifest itself: at
    * millions of files, inline JSON stats made the driver parse the
    * whole census per read — the scale ceiling Delta's
    * checkpoint-parquet + `_last_checkpoint` design removes, mirrored
    * here. The fold includes any PRIOR checkpoint's rows (as a Spark
    * union — never driver-materialized), restricted to still-live
    * dirs; after the commit lands, `_log/_last_checkpoint` points at
    * it.
    */
  def checkpoint(maxRetries: Int = 20): Long = {
    var staged: Option[String] = None
    val v = commitLoop(maxRetries) { v =>
      val (chain, schema) = manifestChainAt(v)
      staged = stageCkptStats(chain)
      // a checkpoint folds METADATA only — live deletion vectors must
      // ride along or the fold would resurrect deleted rows
      val dvs = dvDirsOf(chain)
      // fold the COPY INTO ingested-file union forward too (marker
      // `copy_fold` = the walk stop for copiedFilesAt), so the
      // exactly-once census is O(chain) to recompute, not O(history)
      val copied = copiedFilesAt(v)
      Some(Manifest(0L, "overwrite", chain.flatMap(_.add), schema.json,
        System.currentTimeMillis(), Some(Map("copy_fold" -> "1")), None,
        Some(Nil), staged,
        if (dvs.isEmpty) None else Some(dvs),
        copyFiles = if (copied.isEmpty) None
          else Some(copied.toSeq.sorted)))
    }
    writeLastCheckpoint(v, staged)
    v
  }

  /** Checkpoint only when the manifest chain has grown past
    * `maxChain` commits — the automatic-maintenance policy (Delta's
    * every-N-commits checkpoint): callers on a hot append path
    * (micro-batch sinks, ingest loops) invoke this after each commit
    * and the log's read cost stays O(maxChain) forever at the price
    * of one fold per maxChain commits. Returns the checkpoint
    * version when one was taken.
    */
  def maybeCheckpoint(maxChain: Int, maxRetries: Int = 20): Option[Long] = {
    require(maxChain > 0, "maxChain must be positive")
    val v = currentVersion
    if (v < 0 || manifestChainAt(v)._1.length <= maxChain) None
    else Some(checkpoint(maxRetries))
  }

  /** Small-files compaction, transactional: rewrite the CURRENT live
    * set into ⌈rows / targetRowsPerFile⌉ files behind one overwrite
    * commit — the maintenance pass after many micro-batch commits
    * (each commit is its own data dir, so an ingest stream accretes
    * small files exactly like the rename-swap table did). Optimistic
    * like every commit: losing a race recomputes on the winner's
    * state, so compaction can run CONCURRENTLY with ingest without a
    * stop-the-world window. The new files carry stats for every column
    * the snapshot's stats covered, so skipping and replaceWhere keep
    * working after a compaction.
    */
  def compact(targetRowsPerFile: Long, sortCols: Seq[String] = Nil,
      maxRetries: Int = 20): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    commitLoop(maxRetries) { v =>
      val snap = readAt(v)
      val n = snap.count()
      val files =
        math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      // the rewrite keeps the table exactly as prunable: the writers
      // re-collect stats for every column the snapshot's stats cover
      val (statsCols, bloomCols) = coveredStatsCols(v)
      val Staged(staged, _, stats) = stage(snap.coalesce(files), sortCols,
        statsCols = statsCols, bloomCols = bloomCols)
      Some(Manifest(0L, "overwrite", Seq(staged), snap.schema.json,
        System.currentTimeMillis(), None, stats, Some(Nil)))
    }
  }

  /** Logical names of the columns ANY live file's stats cover, as
    * (stats columns, Bloom columns). Inline stats fold on the driver;
    * a stats checkpoint contributes its rows' column-name sets through
    * one shuffle-free job — the driver never collects its rows.
    */
  private def coveredStatsCols(v: Long): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions.{col, map_keys}
    import spark.implicits._
    val (chain, schema) = manifestChainAt(v)
    val logical = colMapOf(chain).map(_.swap)
    val inline = chain.flatMap(_.stats.getOrElse(Map.empty).values)
    val (ckptCols, ckptBlooms) =
      chain.flatMap(_.statsFile).lastOption.fold(
          (Seq.empty[String], Seq.empty[String])) { name =>
        // per-partition name sets, one job, no shuffle
        val sets = spark.read
          .schema(Seq.empty[TxLogTable.CkptStatRow].toDS().schema)
          .parquet(ckptPath(name).toString)
          .select(map_keys(col("nullCounts")), map_keys(col("blooms")))
          .as[(Seq[String], Seq[String])]
          .mapPartitions { it =>
            val (cs, bs) = it.foldLeft((Set.empty[String], Set.empty[String])) {
              case ((c, b), (rc, rb)) => (c ++ rc, b ++ rb)
            }
            Iterator((cs.toSeq, bs.toSeq))
          }.collect()
        (sets.flatMap(_._1).toSeq, sets.flatMap(_._2).toSeq)
      }
    def named(phys: Seq[String]): Seq[String] =
      phys.map(p => logical.getOrElse(p, p)).distinct
        .filter(schema.fieldNames.contains)
    (named(inline.flatMap(_.cols.keys) ++ ckptCols),
      named(inline.flatMap(_.blooms.keys) ++ ckptBlooms))
  }

  /** Incremental small-files compaction (Delta's `OPTIMIZE …
    * [WHERE]` + minFileSize semantics): bin-pack ONLY the live files
    * that are (a) smaller than `minFileBytes` on disk and (b) —
    * when `where` is given — provably INSIDE the predicate scope
    * ([[DataSkipping.mustMatch]] over file-constant columns; a
    * straddling or stats-less file is left alone, never an error).
    * Every non-candidate rides the new manifest VERBATIM
    * (dir-granular where whole, protocol-v5 file entries where a dir
    * splits) with stats and deletion vectors carried forward —
    * at 100 TB a maintenance pass costs the small-file tail it
    * folds, not a table rewrite. Candidates read DV-applied, so
    * their vectors fold away. Fewer than two candidates ⇒ no commit
    * (returns the current version). Zero logical change
    * (`cdc = Some(Nil)`).
    */
  def compactIncremental(targetRowsPerFile: Long,
      minFileBytes: Long = Long.MaxValue,
      where: Option[Column] = None,
      sortCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      maxRetries: Int = 20): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    require(minFileBytes > 0, "minFileBytes must be positive")
    commitLoop(maxRetries) { v =>
      val (chain, schema) = manifestChainAt(v)
      val live = chain.flatMap(_.add)
      if (live.isEmpty) None
      else {
        val cmap = colMapOf(chain)
        val phys = physSchema(schema, cmap)
        val whereExpr = where.map(w => toPhysicalExpr(
          org.apache.spark.sql.graft.bridge.catalystExpression(w), cmap))
        val (all, uncovered: Set[String]) = fileStatsSplitAt(v) match {
          case Some((_, m, unc)) => (m, unc.toSet)
          case None => throw new IllegalStateException(
            s"live data dirs missing under $root")
        }
        val kept = Seq.newBuilder[String]
        val keptStats = Map.newBuilder[String, FileStats]
        val candidates = Seq.newBuilder[String]
        val inline: Map[String, FileStats] =
          chain.flatMap(_.stats.getOrElse(Map.empty)).toMap
        def keepStats(f: String): Unit =
          inline.get(f).foreach(fs => keptStats += f -> fs)
        live.foreach { e =>
          val files: Seq[String] =
            if (e.contains("/")) Seq(e)
            else store.list(dataDir.resolve(e))
              .filter(_.endsWith(".parquet")).map(f => s"$e/$f")
          val verdicts = files.map { f =>
            val inScope = whereExpr.forall(we =>
              !uncovered.contains(f) &&
                DataSkipping.mustMatch(we, phys, all(f)))
            val small = minFileBytes == Long.MaxValue ||
              store.parquetBytes(dataDir.resolve(f)) < minFileBytes
            (f, inScope && small)
          }
          if (!verdicts.exists(_._2) && !e.contains("/")) {
            kept += e
            files.foreach(keepStats)
          } else verdicts.foreach { case (f, isCand) =>
            if (isCand) candidates += f
            else { kept += f; keepStats(f) }
          }
        }
        val cand = candidates.result()
        TxLogTable.lastDmlRewritten = cand.size
        if (cand.size < 2) None // nothing to bin — no-op, no commit
        else {
          val candPaths = cand.map(dataFilePath)
          val snap = readPathsAt(v, candPaths)
          val n = snap.count()
          val nFiles = math.max(1L,
            (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
          val Staged(staged, _, newStats) = stage(snap.coalesce(nFiles),
            sortCols, statsCols = statsCols)
          val merged = keptStats.result() ++ newStats.getOrElse(Map.empty)
          val keptEntries = kept.result()
          Some(Manifest(0L, "overwrite", keptEntries :+ staged,
            schema.json, System.currentTimeMillis(), None,
            if (merged.isEmpty) None else Some(merged),
            Some(Nil), chain.flatMap(_.statsFile).lastOption,
            carriedDvFor(chain, keptEntries)))
        }
      }
    }
  }

  /** Range-clustered compaction — the OPTIMIZE pass that makes data
    * skipping bite: ONE range shuffle of the snapshot on
    * `clusterCols` into `numFiles` files with DISJOINT value ranges,
    * committed with per-file stats. After it, a [[readWhere]] on the
    * cluster columns scans ~(selectivity × numFiles) files — the
    * effectiveness of hive-style partitioning without the
    * small-file/directory explosion, and re-clusterable at any time
    * because it is just another optimistic overwrite commit (safe to
    * interleave with live ingest, like [[compact]]). Zero logical
    * change (`cdc = Some(Nil)`).
    */
  def compactClustered(clusterCols: Seq[String], numFiles: Int,
      statsCols: Seq[String] = Nil, maxRetries: Int = 20): Long = {
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    require(numFiles > 0, "numFiles must be positive")
    commitLoop(maxRetries) { v =>
      val snap = readAt(v)
      val arranged = snap
        .repartitionByRange(numFiles, clusterCols.map(snap.col): _*)
        .sortWithinPartitions(clusterCols.map(snap.col): _*)
      val Staged(staged, _, stats) = stage(arranged,
        statsCols = (clusterCols ++ statsCols).distinct)
      Some(Manifest(0L, "overwrite", Seq(staged), snap.schema.json,
        System.currentTimeMillis(), None, stats, Some(Nil)))
    }
  }

  /** Z-order-clustered compaction: like [[compactClustered]] but the
    * layout key is the Morton interleave of `clusterCols`
    * ([[ZOrder.layoutBy]]), so per-file ranges are tight boxes in
    * EVERY cluster dimension — a lexicographic range layout only
    * clusters its first column; z-order makes [[readWhere]] prune on
    * any of them (the Delta/Iceberg OPTIMIZE ZORDER decomposition:
    * one arithmetic projection + one range shuffle + manifest stats).
    * Cluster columns may be numeric or STRING (strings bucket via an
    * order-preserving UTF-8 prefix key — [[ZOrder.orderKey]]); the
    * snapshot must be non-empty.
    */
  def compactZOrdered(clusterCols: Seq[String], numFiles: Int,
      bits: Int = 8, statsCols: Seq[String] = Nil,
      maxRetries: Int = 20): Long = {
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    require(numFiles > 0, "numFiles must be positive")
    commitLoop(maxRetries) { v =>
      val snap = readAt(v)
      val arranged = ZOrder.layoutBy(snap, clusterCols, bits, numFiles)
        .drop("zval")
      val Staged(staged, _, stats) = stage(arranged,
        statsCols = (clusterCols ++ statsCols).distinct)
      Some(Manifest(0L, "overwrite", Seq(staged), snap.schema.json,
        System.currentTimeMillis(), None, stats, Some(Nil)))
    }
  }

  // ── change feed ───────────────────────────────────────────────────

  /** Row-level change feed over `(fromVersion, toVersion]`: the
    * POST-IMAGE rows each commit inserted or updated, tagged with
    * `_commit_version` — what an incremental downstream (index
    * refresh, dedup-signature update, replication) consumes instead
    * of re-diffing snapshots. Appends/insert-ignores contribute their
    * appended rows, merges the upserted keys' rows (staged at commit
    * time — computing the feed costs no snapshot diff), compaction/
    * checkpoint nothing. The engine's tables never delete rows, so
    * post-images are the complete feed. Cost: a parquet read of the
    * change dirs only — independent of table size.
    */
  def changeFeed(fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    changes(fromVersion, toVersion)
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type")
  }

  /** Typed row-level CDC over `(fromVersion, toVersion]` (the Delta
    * Change Data Feed shape): every row tagged `_change_type` ∈
    * {`insert`, `update_preimage`, `update_postimage`, `delete`} and
    * `_commit_version`. Appends/insert-ignores contribute their
    * appended rows as `insert`s; blind overwrites their full
    * post-image as `insert` (a refresh, with no pre-image — consumers
    * of an overwritten table must reseed); merges their commit-time
    * typed change set; compaction/checkpoint nothing. This is the
    * complete input for incremental view maintenance
    * ([[graft.ext.IncrementalView]]): the signed fold (+post −pre)
    * reproduces any distributive aggregate of the snapshot exactly.
    * Cost: a parquet read of the change dirs only — independent of
    * table size.
    */
  /** Membership test for v's kept-vs-staged split in the
    * replaceWhere feed: an add entry of version v that was already
    * live at v-1 is a KEPT entry (not part of the change set). The
    * v-1 live set is entry-granular; a file entry kept out of a
    * previously whole dir counts as previously-live when its dir
    * was.
    */
  private def chainAddsBefore(v: Long): String => Boolean = {
    val prev = manifestChainAt(v - 1)._1.flatMap(_.add).toSet
    e => prev.contains(e) || prev.contains(e.takeWhile(_ != '/'))
  }

  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(fromVersion <= toVersion,
      s"empty feed range: ($fromVersion, $toVersion]")
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      if (!store.exists(manifestPath(v))) None
      else {
        val m = manifestAt(v)
        // replaceWhere commits carry their dropped-file census
        // (`removed`): the feed is the PRECISE delete+insert pair —
        // every dropped file's rows as `delete` (all its rows matched
        // the predicate by the commit's own verdict), the staged
        // dir's rows as `insert`. Manifests without `removed` fall
        // back to the refresh contract below (add = insert set).
        val replaceWhere = m.markers.exists(_.contains("replace_where"))
        if (replaceWhere && m.removed.exists(_.nonEmpty)) {
          import org.apache.spark.sql.functions.lit
          val schema = DataType.fromJson(m.schemaJson)
            .asInstanceOf[StructType]
          val cmap = m.colMap.getOrElse(Map.empty)
          val staged = m.add.filterNot(
            chainAddsBefore(v)).map(d => dataDir.resolve(d).toString)
          val removedPaths = m.removed.get
            .map(k => dataDir.resolve(k).toString)
          (staged ++ removedPaths).foreach { p =>
            require(store.exists(new Path(p)),
              s"change files of version $v were vacuumed; " +
                "feed from a later version")
          }
          val ins =
            if (staged.isEmpty) None
            else Some(readPhysical(staged, schema, cmap)
              .withColumn("_change_type", lit("insert")))
          // removed files read under the PRE-swap deletion vectors:
          // a row a point delete had already removed must not
          // resurface as a replaceWhere delete
          val preDv = dvDirsOf(manifestChainAt(v - 1)._1)
          val delBase = applyDv(
            spark.read.schema(physSchema(schema, cmap))
              .parquet(removedPaths: _*), preDv)
          val del = Some(
            (if (cmap.isEmpty) delBase
             else delBase.toDF(schema.fieldNames: _*))
              .withColumn("_change_type", lit("delete")))
          val both = (ins.toSeq ++ del.toSeq).reduce(_.unionByName(_))
          Some(both.withColumn("_commit_version", lit(v)))
        } else {
        val typed = m.cdc.isDefined
        val dirs = m.cdc.getOrElse(m.add)
        dirs.foreach { d =>
          require(store.isDir(dataDir.resolve(d)),
            s"change dirs of version $v were vacuumed; feed from a later version")
        }
        if (dirs.isEmpty) None
        else {
          val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
          val readSchema =
            if (typed) schema.add("_change_type", "string", nullable = true)
            else schema
          // change dirs were staged under version v's mapping; read
          // them physically and surface v's LOGICAL names (renames
          // surface live in the feed from their commit on)
          val df = readPhysical(
            dirs.map(d => dataDir.resolve(d).toString), readSchema,
            m.colMap.getOrElse(Map.empty))
          // pre-CDC cdc dirs (older tables) lack the column → their
          // rows were post-images by the old contract
          val tagged =
            if (typed) df.withColumn("_change_type",
              coalesce(col("_change_type"), lit("update_postimage")))
            else df.withColumn("_change_type", lit("insert"))
          Some(tagged.withColumn("_commit_version", lit(v)))
        }
        }
      }
    }
    parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        val (_, schema) = manifestChainAt(toVersion)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          schema.add("_change_type", "string", nullable = false)
            .add("_commit_version", "long", nullable = false))
      }
  }

  /** RESTORE TO VERSION — roll the table back to snapshot `version`
    * as a NEW commit (Delta's RESTORE): history is preserved, the
    * rollback itself is auditable and time-travelable past, and
    * concurrent writers serialize against it like any other commit.
    * Metadata-sized for data: the restored manifest re-references
    * `version`'s immutable data dirs (with their per-file stats, so
    * data skipping keeps working) — no table data is copied or
    * deleted. Returns the new version.
    *
    * CDC (the Delta RESTORE-with-CDF behavior): the rollback IS a
    * logical change, so the commit stages change rows — rows live
    * before the restore but not after it as `delete`, rows the
    * restore resurrects as `insert` — keeping [[changes]]' invariant
    * (the signed fold reproduces the snapshot) true through a
    * restore; a tailing mirror or [[graft.ext.IncrementalView]]
    * follows the rollback instead of silently diverging. The diff is
    * file-granular over immutable dirs (exact, since files never
    * mutate): a dir in both snapshots contributes nothing; a
    * rewritten-but-equal row (e.g. a compaction between the two
    * versions) emits a delete+insert pair that cancels in any
    * additive fold. Cost: proportional to the DIFFERING dirs, not
    * the table.
    */
  def restore(version: Long, maxRetries: Int = 20,
      markers: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.lit
    val (chain, schema) = manifestChainAt(version)
    val dirs = chain.flatMap(_.add)
    // a retainHistory=false vacuum may have collected dirs that only
    // old snapshots referenced — fail loudly, not with a broken table.
    // Live entries may be FILE-granular (protocol v5, replaceWhere):
    // those witness as files, not dirs.
    (dirs ++ dvDirsOf(chain)).foreach(d =>
      require(
        if (d.contains("/")) store.exists(dataDir.resolve(d))
        else store.isDir(dataDir.resolve(d)),
        s"cannot restore to $version: data ${if (d.contains("/")) "file"
          else "dir"} $d was vacuumed"))
    val dirSet = dirs.toSet
    val stats: Map[String, FileStats] =
      chain.flatMap(_.stats.getOrElse(Map.empty))
        .filter { case (k, _) =>
          dirSet.contains(k) || dirSet.contains(k.takeWhile(_ != '/'))
        }
        .toMap
    val targetDv = dvDirsOf(chain)
    commitLoop(maxRetries) { v =>
      import org.apache.spark.sql.functions.{col, regexp_extract,
        substring_index}
      val (preChain, preSchema) = manifestChainAt(v)
      val preDirs = preChain.flatMap(_.add)
      val preDv = dvDirsOf(preChain)
      val restoredSet = dirs.toSet
      val dropped = preDirs.filterNot(restoredSet)
      val gained = dirs.filterNot(preDirs.toSet)
      val shared = preDirs.filter(restoredSet).distinct
      // every leg reads PHYSICALLY and surfaces the TARGET version's
      // logical names (physical names are stable across renames, so a
      // rename between the two snapshots must not fork the union into
      // two columns); a physical with no target-logical keeps its own
      // name — it only arises for columns the restore drops
      val cmapT = colMapOf(chain)
      val revT = cmapT.map(_.swap)
      val cmapPre = colMapOf(preChain)
      def toTargetLogical(df: DataFrame): DataFrame =
        df.select(df.columns.map(p =>
          org.apache.spark.sql.functions.col(p)
            .as(revT.getOrElse(p, p))).toIndexedSeq: _*)
      // whole-dir legs, each under ITS snapshot's deletion vectors
      def side(ds: Seq[String], schPhys: StructType, dvs: Seq[String],
          tag: String) =
        if (ds.isEmpty) None
        else Some(toTargetLogical(applyDv(spark.read.schema(schPhys)
            .parquet(ds.map(d => dataDir.resolve(d).toString): _*), dvs))
          .withColumn("_change_type", lit(tag)))
      // shared-dir legs: dirs live in BOTH snapshots but under
      // different deletion vectors — positions deleted pre-restore and
      // not in the target resurrect (insert); the reverse are new
      // deletes. Keys compare as (file, pos) frames; rows fetch by
      // semi-join, so cost is DV-delta-proportional.
      def dvKeys(ds: Seq[String]): DataFrame = {
        val all =
          if (ds.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              dvReadSchema)
          else spark.read.schema(dvReadSchema)
            .parquet(ds.map(d => dataDir.resolve(d).toString): _*)
        // shared entries may be dir- or FILE-granular: a dv key
        // ("dir/part-file") belongs when its dir is a shared dir entry
        // or the key itself is a shared file entry
        val (sharedFiles, sharedDirs) = shared.partition(_.contains("/"))
        val byDir =
          if (sharedDirs.isEmpty) lit(false)
          else substring_index(col("_dv_file"), "/", 1)
            .isin(sharedDirs: _*)
        val byFile =
          if (sharedFiles.isEmpty) lit(false)
          else col("_dv_file").isin(sharedFiles: _*)
        all.filter(byDir || byFile)
      }
      def fetch(keys: DataFrame, tag: String): DataFrame =
        toTargetLogical(spark.read.schema(physSchema(schema, cmapT))
          .parquet(shared.map(d => dataDir.resolve(d).toString): _*)
          .withColumn("_dv_file", regexp_extract(
            col("_metadata.file_path"), "([^/]+/[^/]+)$", 1))
          .withColumn("_dv_pos", col("_metadata.row_index"))
          .join(keys, Seq("_dv_file", "_dv_pos"), "left_semi"))
          .withColumn("_change_type", lit(tag))
      val dvDelta = shared.nonEmpty && preDv.toSet != targetDv.toSet
      val deltaSides =
        if (!dvDelta) Nil
        else {
          val preK = dvKeys(preDv)
          val tgtK = dvKeys(targetDv)
          Seq(fetch(preK.exceptAll(tgtK), "insert"),
            fetch(tgtK.exceptAll(preK), "delete"))
        }
      val sides =
        (side(dropped, physSchema(preSchema, cmapPre), preDv, "delete") ++
          side(gained, physSchema(schema, cmapT), targetDv, "insert"))
          .toSeq ++ deltaSides
      val cdc =
        if (sides.isEmpty) Some(Nil) // no-op restore
        else Some(Seq(stage(
          sides.reduce(_.unionByName(_, allowMissingColumns = true)),
          cmapOverride = Some(cmapT)).dir))
      Some(Manifest(0L, "overwrite", dirs, schema.json,
        System.currentTimeMillis(),
        wrap(markers + ("restoredFrom" -> version.toString)), wrap2(stats),
        cdc, chain.flatMap(_.statsFile).lastOption,
        if (targetDv.isEmpty) None else Some(targetDv),
        // schema rolls back, so the mapping and constraint set roll
        // back WITH it — Some(empty) pins "explicitly none" past the
        // commit-layer inheritance of the pre-restore state
        colMap = Some(cmapT),
        constraints = Some(chain.last.constraints.getOrElse(Map.empty)),
        droppedCols = Some(droppedOf(chain))))
    }
  }

  private def wrap2(m: Map[String, FileStats]): Option[Map[String, FileStats]] =
    if (m.isEmpty) None else Some(m)

  /** Remove data dirs referenced by NO manifest (orphans from lost
    * commit races or crashes mid-stage) plus, when `retainHistory` is
    * false, dirs referenced only by versions strictly before the last
    * overwrite/checkpoint (unreachable from any still-replayable read).
    * Never touches the current live set. Returns removed dir names.
    *
    * `minAgeMillis` is the concurrent-writer guard (Delta's retention
    * threshold, default 1 hour): a dir younger than it is NEVER
    * collected even when unreferenced, because an in-flight commit
    * stages its data dir BEFORE publishing the manifest — an
    * age-blind sweep racing that window would delete the dir out from
    * under the winning commit. Orphans from genuinely dead writers
    * are collected by the next vacuum after they age past the
    * threshold. Pass 0 only when no concurrent writer can exist
    * (tests, single-process maintenance windows).
    */
  def vacuum(retainHistory: Boolean = true,
      minAgeMillis: Long = 3600L * 1000L,
      dryRun: Boolean = false): Seq[String] = {
    val v = currentVersion
    if (v < 0) return Nil
    val cutoff = System.currentTimeMillis() - minAgeMillis
    def sweep(dir: Path, doomed: List[String]): List[String] = {
      // DRY RUN: report what a real vacuum would remove, touch nothing
      if (!dryRun) doomed.foreach(d => store.deleteRecursive(dir.resolve(d)))
      doomed
    }
    def ls(dir: Path): List[String] = store.list(dir)
    def agedPast(dir: Path, name: String): Boolean =
      try store.modTime(dir.resolve(name)) <= cutoff
      catch { case _: java.io.IOException => false } // vanished: skip
    // retainHistory=false keeps the live set plus the change dirs of
    // the still-walked manifest chain (the feed window a reader can
    // still replay)
    // live entries may be FILE-granular (replaceWhere); the sweep
    // reconciles DIRS, so a dir stays referenced while ANY of its
    // files does (conservative — dropped siblings go when the last
    // reference to the dir does)
    val (doomedUnaged: List[String], refCkpt: Set[String]) =
      if (retainHistory && (v + 1) > planThreshold) {
        // SCALE ARM: the full-history reference fold runs as ONE Spark
        // job over the manifest JSON files — the driver never parses
        // 100k manifests; it materializes only the DOOMED names (plus
        // the checkpoint reference census, bounded by ckpt count)
        import org.apache.spark.sql.functions.{array, coalesce => fcoal,
          col, concat, explode_outer, substring_index}
        import org.apache.spark.sql.types.{ArrayType, StringType,
          StructField, StructType => SType}
        import spark.implicits._
        val mfSchema = SType(Seq(
          StructField("add", ArrayType(StringType), nullable = true),
          StructField("cdc", ArrayType(StringType), nullable = true),
          StructField("dv", ArrayType(StringType), nullable = true),
          StructField("statsFile", StringType, nullable = true)))
        val mfPaths = ls(logDir).filter(_.endsWith(".json"))
          .map(n => logDir.resolve(n).toString)
        val mf = spark.read.schema(mfSchema).json(mfPaths: _*)
        val empty = array()
        val refs = mf.select(explode_outer(concat(
            fcoal(col("add"), empty), fcoal(col("cdc"), empty),
            fcoal(col("dv"), empty))).as("e"))
          .where(col("e").isNotNull)
          .select(substring_index(col("e"), "/", 1).as("name"))
          .distinct()
        val listDf = ls(dataDir).toDF("name")
        val doomed = listDf.join(refs, Seq("name"), "left_anti")
          .as[String].collect().toList
        val ckpts = mf.select(col("statsFile"))
          .where(col("statsFile").isNotNull)
          .distinct().as[String].collect().toSet
        TxLogTable.lastPlanMaterialized = doomed.size + ckpts.size
        (doomed, ckpts)
      } else {
        val manifests: Seq[Manifest] =
          if (retainHistory)
            (0L to v).flatMap(i =>
              if (store.exists(manifestPath(i))) Some(manifestAt(i))
              else None)
          else manifestChainAt(v)._1
        val referenced: Set[String] =
          manifests.flatMap(m =>
            (m.add ++ m.cdc.getOrElse(Nil) ++ m.dv.getOrElse(Nil))
              .map(_.takeWhile(_ != '/'))).toSet
        TxLogTable.lastPlanMaterialized = manifests.size
        (ls(dataDir).filterNot(referenced),
          manifests.flatMap(_.statsFile).toSet)
      }
    val doomedData = sweep(dataDir,
      doomedUnaged.filter(agedPast(dataDir, _)))
    // stats-checkpoint GC: a ckpt parquet is garbage once no surviving
    // manifest references it (lost checkpoint races, or — with
    // retainHistory=false — checkpoints of no-longer-replayable
    // versions)
    val doomedCkpt = sweep(logDir,
      ls(logDir).filter(n => n.startsWith("ckpt-") && !refCkpt(n) &&
        agedPast(logDir, n)))
    (doomedData ++ doomedCkpt).sorted
  }
}
