package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory, PartitionSpec,
  PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

import graft.common.FsUtils

/** Versioned parquet table — the engine's replacement for the reference's
  * Delta tables (reference getl/common/delta_table.py, getl/blocks/write/
  * batch_delta.py; design in SURVEY.md §7.3).
  *
  * Layout: immutable data dirs `<path>/d<N>/` plus manifest log
  * `<path>/_graft_log/<N>.json`. The log is DELTA-ENCODED (round 11):
  * every [[ManagedTable.checkpointInterval]]-th commit (and v0) is a
  * FULL self-contained manifest listing the data dirs composing that
  * snapshot,
  *
  * {{{ {"version":3,"timestamp":1723400000000,"dirs":["…/d0","…/d3"]} }}}
  *
  * while the commits between write ACTION manifests — the entry/dv
  * add/remove deltas against the parent —
  *
  * {{{ {"version":4,"timestamp":…,"parent":3,"add":["…/d4-ab12"]} }}}
  *
  * so an append's commit metadata is O(changed dirs), not O(snapshot
  * dirs) (a year of micro-batch appends would otherwise write O(dirs²)
  * cumulative manifest bytes), and snapshot resolution replays at most
  * interval-1 deltas onto the nearest full manifest. VACUUM repairs the
  * chain before reaping: a retained delta whose parent drops gains a
  * `<N>.checkpoint.json` full shadow first. Old (pre-round-11, all-full)
  * logs read unchanged.
  *
  * An entry may also be an object `{"dir":"…/d0/p=a","base":"…/d0"}`
  * referencing ONE hive partition subdir of an earlier data dir — written
  * by partition-pruned merges; `base` is passed as the scan's `basePath`
  * so the partition column survives the subdir read.
  *
  * [[MetadataCodec]] is the one home of the format of every metadata
  * file the table writes: both log record forms, vacuum's checkpoint
  * shadows, `_properties.json` and the version hints.
  *
  * This gives Delta's essential operations at Delta's cost model:
  *   - APPEND writes only the new rows' files and a manifest referencing
  *     old + new dirs — O(new data), NOT O(table); the same holds for the
  *     registries' insert-if-absent merge;
  *   - copy-on-write DML — merge upsert, CDC apply, DELETE, replaceWhere
  *     and UPDATE — runs through ONE rewrite core ([[rewriteDml]]): each op
  *     supplies only its row rewrite (upserts: one anti-join + union, AQE
  *     picks broadcast at runtime when the batch is small), the batch
  *     naming its touched keys, and its match condition. The core rewrites
  *     ONLY the partitions (or, on an unpartitioned bucketed table, the
  *     buckets) the op touches and carries the untouched dirs by manifest
  *     reference — O(touched partitions), Delta's file-pruned merge cost
  *     model — and otherwise rewrites the snapshot into one fresh dir.
  *     The deletion-vector variants share one vectoring step
  *     ([[vectorOut]]): O(matched rows), no data-file rewrite;
  *   - time travel reads any manifest's dir list (SnapshotDiff registry);
  *   - OPTIMIZE compacts the current dir list into one dir (ZORDER ≈
  *     range-partition + sortWithinPartitions for parquet min/max
  *     data-skipping);
  *   - VACUUM deletes manifests past retention and any data dir no
  *     retained manifest references (containment-aware: a dir with a
  *     referenced subdir — or inside a referenced dir — is never deleted).
  *
  * A snapshot reads as ONE file relation per layout — its dirs of equal
  * data and partition schemas — the way Delta scans a snapshot's file set
  * as one table; an append-only or same-schema table is one scan however
  * many dirs it has. Layouts union by name (`allowMissingColumns`), so
  * schema drift across appends behaves like the reference's MergeSchema
  * (batch_delta.py:27,40), and a column can be a data column in one dir
  * and a hive partition in another. Partition pruning and pushdown apply
  * to the whole scan.
  *
  * Read cost model: every read of a snapshot's rows is built by ONE
  * reader ([[readSnapshot]]) — the layout scans, renames, the union by
  * name, tombstones, the caller's filter, then the DV anti-join. A data
  * dir is written once under a fresh name and never modified, so its
  * FACTS — its data files and the footer of the first one — are resolved
  * once per process: one listing and one footer read on the driver, no
  * Spark job ([[ManagedTable.resolve]]). The op that writes a dir
  * resolves it, so the first read after a commit lists nothing; a dir
  * written by another process resolves on its first read. Every read —
  * of the head or of an older version — derives each entry's scan from
  * those facts under its session's conf (data schema from the footer,
  * partition values parsed from the file paths) and builds its layout
  * relations over them under fresh attribute ids, so self-joins and
  * `exceptAll` of two reads plan as two scans; a stats- or bloom-pruned
  * read narrows them to the kept files. File counts and sizes
  * (`pruneInfo`, compaction sizing), bucket-layout checks and the
  * pruned DML's partition subdirs come from the same facts. Deletion-
  * vector sidecars read with their fixed schema, so no read runs a
  * schema-inference job.
  *
  * Commits: every operation that commits runs in ONE loop
  * ([[withCommitRetry]]). Each attempt resolves the head once — walking
  * the delta chain once — and validates, reads, names its dirs and
  * commits against that head ([[commitAgainst]]: put-if-absent of version
  * head+1). A lost race re-runs the attempt against the new head, at most
  * [[ManagedTable.MaxCommitAttempts]] times: read-modify-write ops
  * recompute, blind commits (append, write, restore) write their data
  * once and only rebase the manifest.
  */
final class ManagedTable(spark: SparkSession, val path: String) {

  private def logDir = s"$path/_graft_log"

  import ManagedTable.{DeltaRecord, Entry, Manifest, TableProps}

  /** The log file for version `v`, parsed — preferring a vacuum-written
    * `<v>.checkpoint.json` (always full/self-contained) over the commit
    * file itself, so a delta whose parents vacuum reaped stays readable. */
  private def logFileAt(v: Long): Option[Either[DeltaRecord, Manifest]] =
    Seq(s"$logDir/$v.checkpoint.json", s"$logDir/$v.json")
      .find(FsUtils.exists(spark, _))
      .map(p => MetadataCodec.decodeLog(v, FsUtils.readText(spark, p)))

  /** Fold one action delta onto its parent's materialized snapshot.
    * Entry/dv order is reconstruction-exact: the committer verified
    * `parent minus removed plus added == intended` before writing the
    * delta (and fell back to a full manifest otherwise), so replay
    * reproduces the snapshot byte-for-byte, not merely set-equal. txn
    * markers stay CUMULATIVE across the fold ([[lastTxn]]'s O(head)
    * property); renames inherit unless the delta set them. */
  private def applyDelta(parent: Manifest, d: DeltaRecord): Manifest = {
    val removed = d.remove.toSet
    val dvRemoved = d.dvRemove.toSet
    Manifest(d.version, d.timestamp,
      parent.entries.filterNot(removed) ++ d.add,
      parent.dvs.filterNot(dvRemoved) ++ d.dvAdd,
      d.renames.getOrElse(parent.renames),
      parent.txn ++ d.txn, d.op)
  }

  /** Every manifest, MATERIALIZED, ascending — O(versions) reads (one
    * forward fold, each file read once). Only the ops that truly need
    * timestamps or the whole history (history, time travel by timestamp,
    * change feeds, vacuum) pay this; the hot paths go through
    * [[versionsOnDisk]]/[[lastManifest]] instead. */
  private def manifests(): Seq[Manifest] =
    versionsOnDisk().foldLeft(Vector.empty[Manifest]) { (out, v) =>
      logFileAt(v) match {
        case Some(Right(full)) => out :+ full
        case Some(Left(d)) if out.lastOption.exists(_.version == v - 1) =>
          out :+ applyDelta(out.last, d)
        // non-contiguous log (a listed-then-reaped race) — chain-walk
        case Some(Left(_)) => out ++ manifestAt(v)
        case None => out // file raced away between listing and read
      }
    }

  /** Committed version numbers, ascending — one metadata LISTING, no
    * manifest file is read (versions are the file names). O(versions)
    * directory entries: only the cold paths below (history, timestamp
    * time travel, vacuum, hint-miss fallback) may call this. */
  private def versionsOnDisk(): Seq[Long] =
    FsUtils.listFiles(spark, logDir, ".json")
      .flatMap(p => new Path(p).getName.stripSuffix(".json").toLongOption)
      .sorted

  /** Materialize snapshot `v`: read its log file; when it is a delta,
    * walk BACK to the nearest self-contained manifest (a checkpoint-
    * cadence full commit or a vacuum-written `.checkpoint.json`) and
    * fold forward — at most [[ManagedTable.checkpointInterval]]-1 reads.
    * A broken chain (parents reaped by a vacuum that failed before
    * checkpointing, or hand-deleted log files) fails LOUDLY naming the
    * vacuum horizon rather than returning a partial snapshot.
    * `private[table]` for spec access to materialized snapshots.
    *
    * LIVE-VACUUM race: a concurrent vacuum reaps a retained delta's
    * parents only AFTER writing the boundary version's self-contained
    * `.checkpoint.json` shadow (repair-before-reap). But this walk can
    * interleave — read the boundary's DELTA file before the shadow
    * landed, then hit the parent after it was reaped. One re-resolution
    * from scratch is exact recovery: the second pass prefers the shadow
    * ([[logFileAt]]) and never reaches the reaped parents. Only a chain
    * still broken on the clean second pass is REAL breakage (a vacuum
    * that crashed mid-repair, or a hand-edited log) — that one throws. */
  private[table] def manifestAt(v: Long): Option[Manifest] =
    try manifestAtOnce(v)
    catch { case _: IllegalStateException => manifestAtOnce(v) }

  private def manifestAtOnce(v: Long): Option[Manifest] =
    logFileAt(v) match {
      case None => None
      case Some(Right(m)) => Some(m)
      case Some(Left(d0)) =>
        var deltas: List[DeltaRecord] = d0 :: Nil
        var pv = v - 1
        var base: Option[Manifest] = None
        while (base.isEmpty) {
          ManagedTable.chainWalkHook.get()(pv) // fault-injection seam (specs)
          logFileAt(pv) match {
            case Some(Right(m))  => base = Some(m)
            case Some(Left(d)) => deltas = d :: deltas; pv -= 1
            case None => throw new IllegalStateException(
              s"snapshot v$v of $path is not reconstructable: its delta " +
                s"manifest chain is broken at v$pv — the chain was removed " +
                "by VACUUM past the retention horizon (or the log was " +
                "hand-edited); time travel is bounded by vacuum retention")
          }
        }
        Some(deltas.foldLeft(base.get)(applyDelta))
    }

  // ---------------------------------------------------- version resolution
  // Delta's `_last_checkpoint` analogue: every successful commit refreshes
  // a one-line hint file naming its version, and current-version
  // resolution probes FORWARD from the hint (does v+1.json exist?) instead
  // of LISTING the whole log directory. A year-long streaming ingest
  // committing per micro-batch accumulates 10^5-10^6 manifests; an
  // object-store LIST at that count is a real per-query planning tax,
  // while the hint path costs O(1) reads + O(commits-since-hint)
  // existence probes — commits are consecutive integers under the OCC
  // put-if-absent rule, so the first missing version IS the boundary.
  // The hint is best-effort and self-healing: torn/missing/stale hints
  // (crashed writer, out-of-order hint races, an ancient hint whose
  // manifest vacuum reaped) fall back to the full listing; a hint that
  // merely LAGS (a racer's hint write landing late) is healed by the
  // forward probe. Correctness never depends on the hint's content.
  private def hintPath = s"$logDir/_last_checkpoint"

  /** Write a version hint file; a lost hint only costs a fallback. */
  private def writeVersionFile(file: String, v: Long): Unit =
    try FsUtils.writeTextAtomic(spark, file, MetadataCodec.encodeVersion(v))
    catch { case _: Exception => () }

  /** A hint file's version; None when missing, torn or unreadable. */
  private def readVersionFile(file: String): Option[Long] =
    try MetadataCodec.decodeVersion(FsUtils.readText(spark, file))
    catch { case _: Exception => None }

  /** The current snapshot's manifest: on the hint path, O(1) log reads
    * plus at most [[ManagedTable.checkpointInterval]]-1 delta replays —
    * constant in table size and commit count. */
  private def lastManifest(): Option[Manifest] = currentVersion.flatMap(manifestAt)

  /** (version, commitTimestampMillis) pairs, ascending. */
  def history(): Seq[(Long, Long)] = manifests().map(m => (m.version, m.timestamp))

  /** `DESCRIBE HISTORY` analogue: one row per commit with the operation
    * name the writer stamped ([[withCommitRetry]]'s op context) and the
    * snapshot's entry/DV/rename/txn footprint. O(versions) manifest reads
    * — a cold observability path, like [[history]]. Pre-op manifests
    * (older log versions) surface an empty operation string. */
  def describeHistory(): DataFrame = {
    import spark.implicits._
    manifests().map { m =>
      (m.version, new java.sql.Timestamp(m.timestamp), m.op,
        m.entries.size.toLong, m.dvs.size.toLong, m.renames.size.toLong,
        m.txn.size.toLong)
    }.toDF("version", "timestamp", "operation",
      "num_entries", "num_dvs", "num_renames", "num_txn")
  }

  def exists: Boolean = currentVersion.nonEmpty

  def currentVersion: Option[Long] =
    readVersionFile(hintPath) match {
      case Some(h) if FsUtils.exists(spark, s"$logDir/$h.json") =>
        var v = h
        while (FsUtils.exists(spark, s"$logDir/${v + 1}.json")) v += 1
        Some(v)
      case _ => versionsOnDisk().lastOption
    }

  /** Latest version committed at or before `tsMillis`, if any. */
  def versionAt(tsMillis: Long): Option[Long] =
    manifests().filter(_.timestamp <= tsMillis).lastOption.map(_.version)

  def read(): DataFrame = lastManifest() match {
    case Some(m) => readSnapshot(m)
    case None    => spark.emptyDataFrame
  }

  def readVersion(v: Long): DataFrame = readSnapshot(resolveVersion(v))

  /** Snapshot `v` materialized, or a LOUD, cause-naming failure — never a
    * partial/empty frame. A version whose manifest is gone while NEWER
    * versions exist was reaped by VACUUM (manifests only ever leave the
    * log through it), so the error names the vacuum horizon and the
    * earliest version still readable; a version beyond the head is a
    * plain not-found. Broken delta chains fail inside [[manifestAt]]
    * with their own vacuum-naming error. */
  private def resolveVersion(v: Long): Manifest =
    manifestAt(v).getOrElse {
      val onDisk = versionsOnDisk()
      if (onDisk.lastOption.exists(v < _) && v >= 0)
        throw new IllegalStateException(
          s"version $v of $path is no longer available: its manifest was " +
            "removed by VACUUM (older than the retention horizon at the " +
            "time); earliest retained version is " +
            s"${onDisk.headOption.getOrElse(-1L)}")
      else throw new AnalysisException(
        "TABLE_OR_VIEW_NOT_FOUND", Map("relationName" -> s"$path@v$v"))
    }

  /** Apply the manifest's ORDERED logical renames to one per-dir scan:
    * each (from, to) renames only when the dir's schema still carries the
    * old physical name (dirs written after the rename already have the
    * new one), so rename chains and mixed-age snapshots resolve
    * per-dir with zero data movement. */
  private def applyRenames(df: DataFrame,
                           renames: Seq[(String, String)]): DataFrame =
    renames.foldLeft(df) { case (d, (from, to)) =>
      d.schema.fields.find(_.name.equalsIgnoreCase(from)) match {
        case Some(f) if !d.schema.fieldNames.exists(_.equalsIgnoreCase(to)) =>
          d.withColumnRenamed(f.name, to)
        case _ => d
      }
    }

  /** Exclude drop-tombstoned columns from a logical read. Catalyst's
    * column pruning pushes the exclusion into the parquet scans, so
    * dropped bytes are never read. */
  private def dropTombstones(df: DataFrame): DataFrame = {
    val ts = df.schema.fieldNames.filter(_.startsWith(ManagedTable.DroppedPrefix))
    if (ts.isEmpty) df else df.drop(ts.toIndexedSeq: _*)
  }

  /** The data files of `e`'s dir, from its resolved facts. */
  private def dataFiles(e: Entry): Seq[FileStatus] = ManagedTable.resolve(spark, e.dir).files

  /** Each data file of `dir` as its path below `dir`, split at the first
    * `/`: a file in a partition subdir gives (subdir name, rest). */
  private def underDir(dir: String): Seq[Array[String]] = {
    val facts = ManagedTable.resolve(spark, dir)
    val root = facts.root.toUri.getPath + "/"
    facts.files.map(_.getPath.toUri.getPath.stripPrefix(root).split("/", 2))
  }

  /** `e` as one scan's parts under this session's conf, derived from its
    * dir's resolved facts as `DataSource` and `InMemoryFileIndex` derive
    * them: partition columns typed by `PartitioningUtils.parsePartitions`
    * over the files' dirs below `e.base.getOrElse(e.dir)`; the data schema
    * read from the footer the way parquet inference reads it with
    * `mergeSchema` off, partition columns dropped, every field nullable. */
  private def scan(e: Entry): ManagedTable.DirScan = {
    val facts = ManagedTable.resolve(spark, e.dir)
    val conf = spark.sessionState.conf
    val spec = ManagedTable.parsePartitions.invoke(PartitioningUtils,
      facts.files.map(_.getPath.getParent).distinct,
      Boolean.box(conf.partitionColumnTypeInferenceEnabled),
      Set(e.base.fold(facts.root)(ManagedTable.qualified(spark, _))), None,
      Boolean.box(conf.caseSensitiveAnalysis), Boolean.box(conf.validatePartitionColumns),
      conf.sessionLocalTimeZone, Boolean.box(conf.ignoreInvalidPartitionPaths))
      .asInstanceOf[PartitionSpec]
    val byDir = facts.files.groupBy(_.getPath.getParent)
    val parts = if (spec.partitionColumns.isEmpty) Seq(InternalRow.empty -> facts.files)
      else spec.partitions.map(p => p.values -> byDir(p.path))
    val fileSchema = ParquetFileFormat.readSchemaFromFooter(new Footer(facts.root,
      facts.footer.getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
        Map("format" -> "Parquet")))),
      new ParquetToSparkSchemaConverter(assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
    val dataSchema = StructType(fileSchema.filterNot(f =>
      spec.partitionColumns.exists(p => conf.resolver(p.name, f.name))))
    ManagedTable.DirScan(facts.root, ManagedTable.nullable(dataSchema),
      spec.partitionColumns, parts.map { case (values, files) =>
        PartitionDirectory(values, files.map(FileStatusWithMetadata(_)))
      })
  }

  /** The one snapshot reader: every read of `m`'s rows — [[read]],
    * [[readVersion]], [[readWhere]], the DV DML matches and the pruned DML
    * slices — is built here, in this order:
    *
    *   - one scan per LAYOUT (equal data and partition schemas), in order
    *     of first appearance so the oldest dir's columns lead: one file
    *     relation over the resolved files of the layout's entries
    *     ([[ManagedTable.SnapshotIndex]]); with `pruneFor`, each entry's
    *     files narrow to the ones [[pruneEntries]] keeps for that
    *     condition — an entry it prunes entirely adds no file but its
    *     layout still adds its SCHEMA (under schema drift, dropping it
    *     could lose columns the filter or the caller references);
    *   - per scan: `pruneFor`'s bucket-id filter, the manifest's renames
    *     and, under deletion vectors or `withMeta`, the provenance columns;
    *   - the union by name, the tombstone drop and `filter`;
    *   - the DV anti-join. `filter` stays BEFORE it: the scans keep their
    *     pushdown, and a slice taken from un-vectored data would bring
    *     deleted rows back.
    *
    * `withMeta` keeps the provenance columns (DML derives new vectors
    * from them); `withBucket` keeps the hidden bucket partition
    * ([[setBucket]]), which a logical read never surfaces — rewrites
    * recompute it in [[writeData]]. */
  private def readSnapshot(m: Manifest, filter: Option[Column] = None,
                           pruneFor: Option[String] = None,
                           withMeta: Boolean = false,
                           withBucket: Boolean = false): DataFrame =
    if (m.entries.isEmpty) spark.emptyDataFrame
    else {
      // an equality/IN conjunct on the bucketed key names the buckets that
      // can match, hashed at the spec's CANONICAL type; Catalyst turns the
      // isin into a partition filter, so other bucket dirs are pruned at
      // planning time. Dirs written before setBucket lack the column and
      // read unpruned. An EMPTY id set (contradictory conjuncts) prunes
      // the whole scan — isin() of nothing is false
      val bucketIds = for {
        c <- pruneFor
        spec <- bucketSpec
        ids <- DataSkipping.bucketsFor(spark, c, spec.column, spec.keyType, spec.n)
      } yield ids.toSeq.map(Int.box)
      val kept: Seq[ManagedTable.DirScan] = pruneFor.fold(m.entries.map(scan))(c =>
        pruneEntries(m.entries, c, withCounts = false).map { s =>
          val all = scan(s._1)
          s._2.map(_.toSet).fold(all)(k => all.copy(parts = all.parts.map(p =>
            p.copy(files = p.files.filter(f => k(f.getPath.toUri.getPath))))))
        })
      def layout(s: ManagedTable.DirScan) = (s.dataSchema, s.partitionSchema)
      val groups = kept.groupBy(layout)
      val scans = kept.map(layout).distinct.map(groups).map { group =>
        val index = ManagedTable.SnapshotIndex(group.map(_.root),
          group.head.partitionSchema, group.flatMap(_.parts))
        val logical = applyRenames(spark.baseRelationToDataFrame(HadoopFsRelation(
          index, index.partitionSchema, group.head.dataSchema, None,
          new ParquetFileFormat, Map.empty)(spark)), m.renames)
        val bucketed = bucketIds.filter(_ => logical.schema.fieldNames
            .exists(_.equalsIgnoreCase(ManagedTable.BucketCol)))
          .fold(logical)(ids => logical.where(col(ManagedTable.BucketCol).isin(ids: _*)))
        if (withMeta || m.dvs.nonEmpty) provenance(bucketed) else bucketed
      }
      val rows = filter.foldLeft(dropTombstones(
        scans.reduce(_.unionByName(_, allowMissingColumns = true))))(_.where(_))
      val live = applyDv(rows, m.dvs)
      val out = if (withMeta || m.dvs.isEmpty) live else live.drop(DvFile, DvPos)
      if (withBucket) out else out.drop(ManagedTable.BucketCol)
    }

  // ------------------------------------------------------- deletion vectors
  // Delta-style deletion vectors: a manifest may carry `dv` dirs of
  // (__dv_file, __dv_pos) rows marking deleted positions inside otherwise
  // untouched data files. Row-level DML then costs O(matched rows) — ONE
  // sidecar write, ZERO data-file rewrites — and reads subtract the
  // vectors with a (file, row_index) anti-join. The DV side holds only
  // not-yet-compacted deletions, so AQE turns the anti-join into a
  // broadcast at any realistic deletion rate; OPTIMIZE / any full rewrite
  // materializes the vectors and clears them.

  private val DvFile = "__dv_file"
  private val DvPos  = "__dv_pos"

  private def provenance(df: DataFrame): DataFrame =
    df.withColumn(DvFile, col("_metadata.file_path"))
      .withColumn(DvPos, col("_metadata.row_index"))

  /** `rows` minus the positions `dvs` vector out; `rows` itself when
    * there are none — the common read stays a bare parquet scan. */
  private def applyDv(rows: DataFrame, dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) rows
    else rows.join(dvRows(dvs), Seq(DvFile, DvPos), "left_anti")

  /** The rows of DV sidecars `dvs`, read with their fixed schema (no
    * footer-inference job). */
  private def dvRows(dvs: Seq[String]): DataFrame =
    spark.read.schema(s"$DvFile STRING, $DvPos BIGINT").parquet(dvs: _*)

  /** Write one DV sidecar for the commit on top of `head`. Sidecars live
    * under `_graft_dv/` — outside the `d*` data-dir namespace, so data-dir
    * globs (streamAppends) and the race-orphan sweep never confuse them
    * with data; vacuum reaps them explicitly. */
  private def writeDvs(rows: DataFrame, head: Manifest): String = {
    val dir = freshDir(s"$path/_graft_dv/dv", Some(head))
    rows.select(col(DvFile), col(DvPos)).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Deletion-vector set surviving a PARTIAL rewrite (incremental
    * optimize / small-file compaction): rows addressing files under the
    * `rewritten` entries are inert after the rewrite (the rewrite read
    * them DV-subtracted, materializing those deletions), and under
    * incremental-only maintenance they would otherwise accumulate
    * forever — every read's anti-join scanning an ever-growing, mostly
    * dead DV set that vacuum can never reap while retained manifests
    * reference it (round-10 advice). One O(dv rows) sidecar fold per
    * maintenance run keeps the DV set sized by LIVE deletions; the
    * replaced sidecar dirs age out through vacuum's orphan sweep.
    *
    * Kept rows = those under a `carried` entry (anything else — the
    * rewritten slice, or dirs that left the snapshot earlier — is inert
    * by definition). The prefix disjunction is planning-time metadata,
    * so when the carried list is huge (a never-compacted append tail)
    * the fold is skipped and the vectors carry verbatim — correct
    * either way, and such a table's next full optimize clears them. */
  private def foldDvs(cur: Manifest, carried: Seq[Entry]): Seq[String] = {
    if (cur.dvs.isEmpty) return cur.dvs
    if (carried.size > 256) return cur.dvs // bounded planning metadata
    val canon = udf(DataSkipping.canonPath _)
    val c = canon(col(DvFile))
    val live = carried.map(e => DataSkipping.canonPath(e.dir)).distinct
      .map(p => c === p || c.startsWith(p + "/"))
      .reduceOption(_ || _).getOrElse(lit(false))
    val kept = dvRows(cur.dvs).where(live)
    if (kept.isEmpty) Nil else Seq(writeDvs(kept, cur))
  }

  /** Bound the LIVE DV sidecar-dir count per snapshot (Delta's DV-file
    * merge analogue): when a vectorized DML op would push the set past
    * [[ManagedTable.dvCompactThreshold]], merge the whole set into ONE
    * sidecar for the new snapshot. Without this, a table maintained by
    * vectorized DML alone accumulates one sidecar dir per op forever and
    * every read's anti-join scans an ever-longer union (round-11 verdict
    * #4); with it the read side lists O(threshold) dirs at ANY DML
    * count, and the merge reads O(live dv rows) once per threshold ops —
    * amortized O(rows/threshold) per op. Replaced dirs remain on disk
    * for the old snapshots that reference them (time travel intact) and
    * age out through vacuum's dv-orphan sweep, exactly like
    * [[foldDvs]]'s replaced sidecars. */
  private def compactedDvs(dvs: Seq[String], head: Manifest): Seq[String] =
    if (dvs.size <= ManagedTable.dvCompactThreshold(spark)) dvs
    else Seq(writeDvs(dvRows(dvs), head))

  /** (dv dir count, deleted-position rows) of the current snapshot — the
    * observability hook specs assert against. */
  def dvInfo(): (Int, Long) = lastManifest() match {
    case Some(m) if m.dvs.nonEmpty =>
      (m.dvs.size, dvRows(m.dvs).count())
    case _ => (0, 0L)
  }

  /** Row-level DELETE via deletion vectors: O(matched rows), no data-file
    * rewrite — the cost model Delta's DV-enabled `DELETE` has. One scan
    * finds matching positions (file-level data skipping applies: combine
    * with [[collectStats]] and the scan is also planning-pruned), one
    * sidecar write records them; every data dir carries over by reference.
    * Prefer this over [[delete]] for sparse deletes (GDPR erasure of a few
    * keys across a 100 TB table); prefer [[delete]]/[[optimize]] when a
    * large fraction of the table leaves. */
  def deleteVectorized(condition: String): Long = {
    require(exists, s"deleteVectorized on absent table $path")
    withCommitRetry("deleteVectorized") { h =>
      vectorOut(h.get, _.where(expr(condition)))(_ => None)
    }
  }

  /** Row-level UPDATE via deletion vectors: matched rows are vectored OUT
    * of their files and their post-update images appended as a fresh dir —
    * O(matched rows) total, no data-file rewrite (Delta's DV update path).
    * `partitionBy` shapes the appended images so a partitioned table keeps
    * its splittable layout. */
  def updateVectorized(cond: String, set: Map[String, String],
                       partitionBy: Seq[String] = Nil): Long = {
    require(exists, s"updateVectorized on absent table $path")
    withCommitRetry("updateVectorized") { h =>
      vectorOut(h.get, _.where(expr(cond)), partitionBy) {
        _.map { matched =>
          val images = set.foldLeft(matched.drop(DvFile, DvPos)) {
            case (d, (c, valueExpr)) => d.withColumn(c, expr(valueExpr))
          }
          validateBatch(images, h)
          images
        }
      }
    }
  }

  /** Upsert-merge via deletion vectors: matched target rows (one semi-join
    * against the update batch) are vectored out and the WHOLE batch appends
    * as a fresh dir — O(matched + batch), independent of table size AND of
    * how many partitions the batch touches (beats [[merge]]'s pruned path
    * when a small batch scatters across many partitions). Same contract as
    * [[merge]] upsert: `condition` is `source.<k> = updates.<k>`-style raw
    * SQL; the result is bit-identical to merge's. */
  def mergeVectorized(updates: DataFrame, condition: String,
                      partitionBy: Seq[String] = Nil,
                      txn: Map[String, Long] = Map.empty): Long =
    withCommitRetry("mergeVectorized") { h =>
      validateBatch(updates, h)
      requireFreshNames(updates, "mergeVectorized", h)
      h match {
        case None =>
          commitAppended(None, writeData(updates, partitionBy, None), txn)
        case Some(cur) =>
          vectorOut(cur, _.alias("source")
            .join(updates.alias("updates"), expr(condition), "left_semi"),
            partitionBy, txn)(_ => Some(updates))
      }
    }

  /** The one vectoring step of the DV DML ops: the rows `matching` picks
    * from `cur`'s snapshot (provenance kept) leave through one new DV
    * sidecar (no sidecar when nothing matched), and `appended` — handed
    * the matched rows, or None when there were none — names a frame to
    * append as a fresh `partitionBy`-shaped dir. Every entry of `cur`
    * carries by reference. */
  private def vectorOut(cur: Manifest, matching: DataFrame => DataFrame,
                        partitionBy: Seq[String] = Nil,
                        txn: Map[String, Long] = Map.empty)(
      appended: Option[DataFrame] => Option[DataFrame]): Long = {
    val matched = Some(matching(readSnapshot(cur, withMeta = true))).filterNot(_.isEmpty)
    val images = appended(matched)
    val dvs = matched.fold(cur.dvs)(m => compactedDvs(cur.dvs :+ writeDvs(m, cur), cur))
    commitAgainst(Some(cur), cur.entries ++
      images.map(i => Entry(writeData(i, partitionBy, Some(cur)), None)), dvs, txn = txn)
  }

  // ---------------------------------------------------------------- checks
  private def propsPath = s"$logDir/_properties.json"

  /** Table properties: CHECK constraints + schema-enforcement flag +
    * optional bucket spec (column, n, key type). Stored beside the
    * manifest log; read per write (one tiny file — same cost class as the
    * manifest listing). */
  private def readProps(): TableProps =
    if (!FsUtils.exists(spark, propsPath)) TableProps()
    else MetadataCodec.decodeProps(FsUtils.readText(spark, propsPath))

  private def writeProps(p: TableProps): Unit =
    FsUtils.writeTextAtomic(spark, propsPath, MetadataCodec.encodeProps(p))

  /** Registered CHECK constraints (name → SQL expression). */
  def checks: Map[String, String] = readProps().checks

  // ------------------------------------------------------------- bucketing

  /** The table's bucket transform, if set. */
  def bucketSpec: Option[ManagedTable.BucketSpec] = readProps().bucket

  /** Capture the key type from the current snapshot's schema. */
  def setBucket(column: String, n: Int): Unit = {
    val head = lastManifest()
    require(head.nonEmpty, s"setBucket($column, $n) on absent/empty table $path: " +
      "pass the key type explicitly (setBucket(column, n, keyType))")
    val dt = readSnapshot(head.get).schema.fields.find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"setBucket: no column $column in $path")).dataType
    setBucket(column, n, dt)
  }

  /** CLUSTER the table Iceberg-`bucket(n, column)`-style: every subsequent
    * write adds a hidden `__gbucket = pmod(hash(cast(column AS keyType)),
    * n)` hive partition (innermost, below any explicit `partitionBy`), and
    *
    *   - [[readWhere]] with an equality/IN on the key scans ONLY the
    *     matching bucket dirs — structural point-lookup pruning to 1/n of
    *     the files with no sidecar to collect and no staleness under
    *     appends (new files land in their key's bucket by construction);
    *   - [[merge]]/[[applyChanges]] keyed on the bucketed column rewrite
    *     ONLY the buckets holding batch keys (O(touched buckets), not
    *     O(table)) — the upsert-heavy-ingest cost model Delta needs
    *     partition columns for, without requiring a natural partition key;
    *     [[delete]], [[replaceWhere]] and [[updateWhere]] rewrite only the
    *     buckets holding matched rows (plus the batch's).
    *
    * `keyType` is part of the layout: EVERY side (writes, lookup literals,
    * DML touched-bucket discovery) hashes the key cast to it, so a batch
    * whose key column arrives wider/narrower still buckets identically —
    * without the canonical type, an int-keyed table merged with a
    * long-keyed batch would compute different buckets for the same logical
    * key and silently duplicate rows.
    *
    * The bucket column is internal: every public read drops it, and every
    * rewrite recomputes it from the key column, so it can never drift from
    * the data. Existing dirs keep their layout (reads stay correct,
    * unpruned) until `optimize()`/[[compactSmall]] rewrites them.
    * The spec is a layout constant: re-setting a DIFFERENT (column, n,
    * type) is refused while any current dir still carries the old layout
    * (its stored bucket values would be pruned with the new function —
    * silently wrong reads); the migration recipe is `dropBucket()` →
    * `optimize()` (materializes an unbucketed layout) → `setBucket(new)`. */
  def setBucket(column: String, n: Int,
                keyType: org.apache.spark.sql.types.DataType): Unit = {
    require(n >= 1, s"setBucket: bucket count must be >= 1, got $n")
    require(!column.startsWith("__"),
      s"setBucket: cannot bucket by internal column $column")
    val spec = ManagedTable.BucketSpec(column, n, keyType)
    val props = readProps()
    if (props.bucket.contains(spec)) return // idempotent re-set
    require(!anyBucketedDirs(),
      s"setBucket on $path: existing dirs carry a previous bucket layout " +
        "whose stored values the new spec would mis-prune; dropBucket() " +
        "then optimize() to materialize an unbucketed layout first")
    writeProps(props.copy(bucket = Some(spec)))
  }

  /** Any current snapshot entry laid out with a bucket partition? */
  private def anyBucketedDirs(): Boolean =
    lastManifest().exists(_.entries.exists(dataFiles(_).exists(
      _.getPath.toUri.getPath.contains(s"/${ManagedTable.BucketCol}="))))

  /** Clear the bucket transform: future writes are unbucketed; existing
    * bucketed dirs keep reading correctly (the hidden column is dropped
    * on read regardless, and with no spec no read ever bucket-prunes). */
  def dropBucket(): Unit = writeProps(readProps().copy(bucket = None))

  /** Add/replace a CHECK constraint (`ALTER TABLE ADD CONSTRAINT name
    * CHECK (expr)`): every subsequent write/append/merge batch must
    * satisfy `expression` on every row or the operation fails BEFORE
    * committing. The existing snapshot is validated now — a constraint
    * the current data violates is rejected, like Delta. */
  def setCheck(name: String, expression: String): Unit = {
    lastManifest().foreach { head =>
      val bad = readSnapshot(head).where(!expr(expression)).limit(1).count()
      require(bad == 0,
        s"cannot add CHECK $name: existing rows violate ($expression)")
    }
    val props = readProps()
    writeProps(props.copy(checks = props.checks + (name -> expression)))
  }

  def dropCheck(name: String): Unit = {
    val props = readProps()
    writeProps(props.copy(checks = props.checks - name))
  }

  /** Toggle schema enforcement. Off (default) the table behaves like
    * Delta with mergeSchema: drifted batches union by name at read time.
    * On, a batch may only use the table's existing columns with equal
    * types — the Delta default, failing fast at write time instead of
    * poisoning future reads with an incompatible column type. */
  def setSchemaEnforced(on: Boolean): Unit =
    writeProps(readProps().copy(schemaEnforced = on))

  /** Write-time validation: CHECK constraints (one scan of the BATCH,
    * never the table) + optional schema enforcement against the schema of
    * `head`, the snapshot the batch commits on. */
  private def validateBatch(df: DataFrame, head: Option[Manifest]): Unit = {
    require(!df.columns.exists(_.equalsIgnoreCase(ManagedTable.BucketCol)),
      s"batch column ${ManagedTable.BucketCol} collides with the reserved " +
        "bucket-transform column")
    val props = readProps()
    if (props.schemaEnforced) head.foreach { h =>
      val have = readSnapshot(h).schema.map(f => f.name.toLowerCase -> f.dataType).toMap
      df.schema.foreach { f =>
        have.get(f.name.toLowerCase) match {
          case None => throw new AnalysisException("FIELD_NOT_FOUND",
            Map("fieldName" -> f.name,
                "fields" -> have.keys.mkString(", ")))
          case Some(t) if t != f.dataType =>
            throw new AnalysisException("CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE",
              Map("left" -> t.sql, "right" -> f.dataType.sql))
          case _ =>
        }
      }
    }
    if (props.checks.nonEmpty) {
      val violated = props.checks.find { case (_, e) =>
        df.where(!expr(e) || expr(e).isNull).limit(1).count() > 0
      }
      violated.foreach { case (n, e) =>
        throw new IllegalArgumentException(
          s"CHECK constraint $n ($e) violated by the write batch")
      }
    }
  }

  /** Write a full new snapshot into a fresh dir. `partitionBy` columns
    * shape the parquet layout (partition pruning for downstream reads).
    * `txn` stamps (appId -> version) markers into the commit atomically —
    * see [[lastTxn]]. */
  def write(df: DataFrame, partitionBy: Seq[String] = Nil,
            txn: Map[String, Long] = Map.empty): Long = {
    val head = lastManifest()
    validateBatch(df, head)
    val dir = writeData(df, partitionBy, head)
    // clean_write replaces the table's data AND schema mapping: the batch
    // is the new logical truth, so renames reset (old manifests keep
    // their own renames — time travel is unaffected). The commit is
    // blind — it does not derive from the head — so a lost race only
    // rebases the manifest
    withCommitRetry("write", head)(
      commitAgainst(_, Seq(Entry(dir, None)), renames = Some(Nil), txn = txn))
  }

  /** The newest (appId -> version) transaction marker committed for
    * `appId`, or None — Delta's `txnVersion` replay guard: a streaming
    * sink stamps its batchId into each commit and skips batches at or
    * below the last stamped one, making at-least-once foreachBatch
    * delivery exactly-once even when the driver dies between the data
    * commit and the checkpoint commit. O(versions) manifest reads,
    * newest-first, stopping at the first hit. */
  def lastTxn(appId: String): Option[Long] =
    // markers carry forward cumulatively since round 9, so the head
    // manifest answers in O(1) — resolved ONCE (an `exists` pre-check
    // would repeat the hint read + forward probes on this per-micro-batch
    // hot path). The full-log walk remains only for markers stranded in
    // pre-carry-forward history (and for genuinely absent appIds — one
    // cold walk before a stream's first commit on a pre-round-9 log).
    lastManifest() match {
      case None => None // absent table: no manifests to walk either
      case Some(head) => head.txn.get(appId)
        .orElse(manifests().reverseIterator
          .flatMap(_.txn.get(appId))
          .nextOption())
    }

  /** Append: write ONLY the new rows; the next manifest references the
    * previous snapshot's dirs plus the new one. The new rows are written
    * once; when the commit loses a race only the MANIFEST is rebased onto
    * the new head (Delta's blind-append fast path — N concurrent appends
    * all land, as N consecutive versions). */
  def append(df: DataFrame, partitionBy: Seq[String] = Nil,
             txn: Map[String, Long] = Map.empty): Long = {
    val head = lastManifest()
    validateBatch(df, head)
    requireFreshNames(df, "append", head)
    val dir = writeData(df, partitionBy, head)
    withCommitRetry("append", head) { h =>
      // a head the retry rebases onto may have renamed a batch column
      requireFreshNames(df, "append", h)
      commitAppended(h, dir, txn)
    }
  }

  /** Commit `dir` as a new entry after `head`'s, its DVs carried. */
  private def commitAppended(head: Option[Manifest], dir: String,
                             txn: Map[String, Long] = Map.empty): Long =
    commitAgainst(head, head.fold(Seq.empty[Entry])(_.entries) :+ Entry(dir, None),
      head.fold(Seq.empty[String])(_.dvs), txn = txn)

  /** ALTER TABLE RENAME COLUMN as a manifest-only commit: zero data
    * movement at any table size. The ordered rename list lives in the
    * manifest and resolves per-dir at read time ([[applyRenames]]), so
    * dirs from before and after the rename coexist; stats/bloom sidecars
    * keyed by the old physical name simply stop pruning for pre-rename
    * files (correctness unaffected — pruning is planning-time only).
    * Renaming a hive PARTITION column is unsupported (the name is baked
    * into directory layout); OPTIMIZE materializes renames into the data
    * files and clears the mapping. */
  def renameColumn(from: String, to: String): Long = {
    require(exists, s"renameColumn on absent table $path")
    withCommitRetry("renameColumn") { h =>
      val cur = h.get
      val schema = readSnapshot(cur).schema.fieldNames
      require(schema.exists(_.equalsIgnoreCase(from)),
        s"renameColumn: no column '$from' in $path (have ${schema.mkString(", ")})")
      require(!schema.exists(_.equalsIgnoreCase(to)),
        s"renameColumn: column '$to' already exists in $path")
      require(!to.startsWith(ManagedTable.DroppedPrefix),
        s"renameColumn: '$to' collides with the drop-tombstone namespace")
      // the whole `__` prefix is the engine's internal namespace: a rename
      // onto __gbucket would be silently dropped by every read (and a
      // later optimize would destroy the column's data); __dv_file/__dv_pos
      // would collide with deletion-vector provenance. The 'already
      // exists' check can't catch these — internal columns never surface
      // in a logical schema. Mirrors setBucket's reserved-prefix rule.
      require(!to.startsWith("__"),
        s"renameColumn: '$to' is in the reserved internal namespace (__*)")
      requireNotBucketKey(from, "renameColumn")
      commitAgainst(h, cur.entries, cur.dvs, Some(cur.renames :+ (from, to)))
    }
  }

  /** Renaming/dropping the bucket-spec key would silently break the
    * feature's cost model: batches no longer carry `spec.column`, so
    * writeData writes unbucketed dirs while the spec stays set — reads
    * remain correct but point-lookup pruning and bucket-pruned DML stop
    * for all new data, and the stale layout blocks a future setBucket.
    * Loud guard, mirroring the partition-column rename restriction. */
  private def requireNotBucketKey(name: String, op: String): Unit =
    bucketSpec.foreach(s => require(!s.column.equalsIgnoreCase(name),
      s"$op on $path: '$name' is the bucket transform's key column " +
        s"(bucket(${s.n}, ${s.column})); dropBucket() first"))

  /** ALTER TABLE DROP COLUMN, manifest-only: a rename into the tombstone
    * namespace reads always exclude — old files keep their bytes (never
    * read again thanks to column pruning) and no dir rewrites. Re-using a
    * dropped name for NEW data requires [[optimize]] first (enforced by
    * [[requireFreshNames]] on incoming batches), exactly because old
    * files still carry the physical column. */
  def dropColumn(name: String): Long = {
    require(exists, s"dropColumn on absent table $path")
    withCommitRetry("dropColumn") { h =>
      val cur = h.get
      val schema = readSnapshot(cur).schema.fieldNames
      require(schema.exists(_.equalsIgnoreCase(name)),
        s"dropColumn: no column '$name' in $path (have ${schema.mkString(", ")})")
      requireNotBucketKey(name, "dropColumn")
      commitAgainst(h, cur.entries, cur.dvs,
        Some(cur.renames :+
          (name, s"${ManagedTable.DroppedPrefix}v${cur.version + 1}_$name")))
    }
  }

  /** An incoming batch may not re-use a column name that is currently the
    * SOURCE of a rename/drop mapping: the per-dir [[applyRenames]] would
    * re-capture the new column in that dir (the classic no-column-ids
    * hazard — Delta requires column mapping for the same reason). The
    * caller's fix is OPTIMIZE (materializes the mapping, clears it).
    * Checked against `head`, the snapshot the batch commits on. */
  private def requireFreshNames(df: DataFrame, op: String,
                                head: Option[Manifest]): Unit =
    head.fold(Seq.empty[(String, String)])(_.renames).foreach { case (from, _) =>
      require(!df.schema.fieldNames.exists(_.equalsIgnoreCase(from)),
        s"$op on $path: batch column '$from' matches a renamed/dropped " +
          "column's old name; run optimize() to materialize the column " +
          "mapping before re-using the name")
    }

  /** Delta-style merge (reference getl/common/delta_table.py:27-44): target
    * aliased `source`, updates aliased `updates`, raw SQL condition like
    * `source.eventId == updates.eventId`.
    *
    *   - upsert (whenMatchedUpdateAll + whenNotMatchedInsertAll): one
    *     anti-join + union through the rewrite core ([[rewriteDml]]) —
    *     pruned to the partitions (or, unpartitioned, the buckets) the
    *     updates name, untouched dirs carried by reference, so a merge
    *     costs O(touched partitions), not O(table);
    *   - insert-only (registry anti-insert): only the NOT-matching update
    *     rows are appended — O(new data) like append.
    */
  def merge(updates: DataFrame, condition: String, upsert: Boolean = true,
            partitionBy: Seq[String] = Nil): Long = withCommitRetry("merge") { h =>
    validateBatch(updates, h)
    requireFreshNames(updates, "merge", h)
    if (upsert)
      upsertRewrite(h, updates, updates, condition, partitionBy, updates.columns.contains(_))
    else commitAppended(h, writeData(h.fold(updates)(cur => updates.alias("updates")
      .join(readSnapshot(cur).alias("source"), expr(condition), "left_anti")),
      partitionBy, h))
  }

  /** Apply a CDC batch — rows tagged insert/update/delete in `opCol`
    * (values I/U/D, case-insensitive) — in ONE new snapshot version: the
    * Delta `whenMatchedDelete` + `whenMatchedUpdateAll` +
    * `whenNotMatchedInsertAll` composition, i.e. the standard "apply
    * change feed to the mirror table" step. Target rows matching ANY
    * change key leave the snapshot via one anti-join (same single pass
    * whether the change is U or D), then the upsert-image rows (I/U)
    * union in. The rewrite prunes like [[merge]]'s: to the partitions or
    * buckets the batch's keys name (D keys included — their rows must
    * leave; I keys included — a batch for a partition the table has never
    * seen must still land). Within one batch the LAST op per key in
    * `orderCol` order wins (CDC logs are ordered; without the in-batch
    * collapse a U followed by its D would resurrect the row). */
  def applyChanges(changes: DataFrame, condition: String, opCol: String,
                   orderCol: String, partitionBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.expressions.Window
    // key columns = the `updates.<col>` references in the join condition,
    // extracted as whole identifiers (a substring test would make
    // `updates.id` also claim column `identifier`, corrupting the dedup
    // window; backticked and differently-cased references must match too).
    // A backticked identifier is captured up to its CLOSING backtick —
    // `updates.`order id`` must resolve to "order id", not truncate at
    // the space (which would either fail the require or, worse, silently
    // dedup-partition by a different column named by the prefix)
    val referenced = """updates\.(?:`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*))""".r
      .findAllMatchIn(condition)
      .map(m => Option(m.group(1)).getOrElse(m.group(2))).toSeq.distinct
    val keyCols = changes.columns
      .filter(c => referenced.exists(_.equalsIgnoreCase(c)))
    require(keyCols.nonEmpty,
      s"applyChanges condition must reference updates.<key> columns: $condition")
    val latest = changes
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols.map(col).toIndexedSeq: _*)
          .orderBy(col(orderCol).desc)))
      .where(col("__rn") === 1).drop("__rn")
    val upserts = latest.where(!upper(col(opCol)).isin("D"))
      .drop(opCol, orderCol)
    // one pass: every changed key (U or D) leaves via the anti-join;
    // upsert images come back in the union
    val allKeys = latest.drop(opCol, orderCol)
    withCommitRetry("applyChanges") { h =>
      validateBatch(upserts, h)
      requireFreshNames(changes, "applyChanges", h)
      upsertRewrite(h, allKeys, upserts, condition, partitionBy, changes.columns.contains(_))
    }
  }

  /** Delta-style row-level DELETE (`DELETE FROM t WHERE condition` — the
    * GDPR/right-to-erasure primitive). Rows matching `condition` (raw SQL
    * over the table's columns) are removed in a new snapshot version; time
    * travel still reads them in older versions until VACUUM retires those
    * manifests. With `partitionBy` set the rewrite is pruned to partitions
    * that contain matching rows — the touched-partition discovery scans
    * only the filter + partition columns, and untouched dirs carry over by
    * manifest reference, so a targeted delete costs O(touched partitions);
    * a partition the delete empties leaves the snapshot. Returns the new
    * version. */
  def delete(condition: String, partitionBy: Seq[String] = Nil): Long = {
    require(exists, s"delete on absent table $path")
    withCommitRetry("delete") { h =>
      rewriteDml(h, partitionBy, _ => true, expr(condition))(_.where(!expr(condition)))
    }
  }

  /** Predicate-scoped overwrite (Delta's `replaceWhere`): rows matching
    * `condition` leave the snapshot and the batch takes their place, in
    * ONE new version — the idempotent backfill primitive ("recompute this
    * day/source and swap it in"). The batch must itself satisfy the
    * predicate (checked, like Delta's constraint — otherwise the swap
    * silently grows out of scope). With `partitionBy` set the rewrite is
    * pruned to partitions holding matching rows PLUS the batch's own
    * partitions (either side alone is wrong: an existing partition the
    * batch doesn't refill must still drop its matches; a partition only
    * the batch names must merge with its untouched rows), untouched dirs
    * carried by manifest reference — O(touched partitions). */
  def replaceWhere(df: DataFrame, condition: String,
                   partitionBy: Seq[String] = Nil): Long = {
    val stray = df.where(!expr(condition)).limit(1).count()
    require(stray == 0L,
      s"replaceWhere batch contains rows violating the predicate $condition")
    withCommitRetry("replaceWhere") { h =>
      validateBatch(df, h)
      requireFreshNames(df, "replaceWhere", h)
      rewriteDml(h, partitionBy, df.columns.contains(_), expr(condition),
          batch = Some(df), firstWrite = Some(df)) {
        _.where(!expr(condition)).unionByName(df, allowMissingColumns = true)
      }
    }
  }

  /** Delta-style UPDATE … SET on the current snapshot: one projection pass
    * into a fresh snapshot dir. With `partitionBy` set the rewrite is
    * pruned to partitions containing matching rows, like [[delete]].
    * NOTE: assigning to the partition column (or the bucket key) itself
    * would move rows between partitions, so that case always takes the
    * full rewrite. */
  def updateWhere(cond: String, set: Map[String, String],
                  partitionBy: Seq[String] = Nil): Long = {
    if (!exists) throw new AnalysisException("TABLE_OR_VIEW_NOT_FOUND", Map("relationName" -> path))
    def apply(df: DataFrame): DataFrame =
      set.foldLeft(df) { case (d, (c, valueExpr)) =>
        d.withColumn(c, when(expr(cond), expr(valueExpr)).otherwise(col(c)))
      }
    withCommitRetry("update") { h =>
      // CHECK constraints see the post-update image of CHANGED rows only —
      // one extra scan proportional to the matched slice, not the table
      validateBatch(apply(readSnapshot(h.get).where(expr(cond))), h)
      rewriteDml(h, partitionBy, c => !set.keys.exists(_.equalsIgnoreCase(c)),
        expr(cond))(apply)
    }
  }

  /** The upsert shape [[merge]] and [[applyChanges]] share: every target
    * row matching a `keys` row leaves via one anti-join and `images` union
    * in. No explicit broadcast hint on either side: update batches and the
    * target both grow without bound at scale, and a forced broadcast of
    * the anti-join build side would OOM; AQE converts the exchange to a
    * broadcast at runtime whenever the observed size is actually small. */
  private def upsertRewrite(head: Option[Manifest], keys: DataFrame,
                            images: DataFrame, condition: String,
                            partitionBy: Seq[String],
                            prunable: String => Boolean): Long =
    rewriteDml(head, partitionBy, prunable, lit(false), Some(keys), Some(images),
        bucketKeyedBy = Some(condition)) {
      _.alias("source").join(keys.alias("updates"), expr(condition), "left_anti")
        .unionByName(images, allowMissingColumns = true)
    }

  /** The one copy-on-write DML core, against `head`. `rewrite` maps
    * snapshot rows — deletion vectors subtracted, bucket column dropped —
    * to the rows that replace them; it serves the pruned slice and the
    * full rewrite alike. With no head, `firstWrite` is the first snapshot.
    * Otherwise, first match:
    *
    *   - PARTITION pruning ([[prunedRewrite]] on `partitionBy.head`) when
    *     `partitionBy` is set and `prunable(partitionBy.head)`: the
    *     touched partitions are those holding `matched` rows plus those
    *     the `batch` rows name;
    *   - BUCKET pruning on an unpartitioned table ([[setBucket]]) when
    *     `prunable` holds for the spec's key — the `batch`'s own key
    *     column, found case-insensitively, which a batch must have — and,
    *     for the upserts, `bucketKeyedBy` (their join condition) carries a
    *     TOP-LEVEL `source.key = updates.key` AND-conjunct on that key
    *     ([[DataSkipping.keyEquiConjunct]] — an equality under OR/NOT
    *     proves nothing, a match through the other arm could live in an
    *     untouched bucket). The touched buckets are those holding `matched`
    *     rows plus the `batch` keys hashed at the spec's canonical type
    *     ([[ManagedTable.BucketSpec.idOf]]), so type-drifted batches
    *     bucket identically to the layout;
    *   - ONE full rewrite of the snapshot into a fresh dir — also when
    *     pruning returns None (layout not splittable, too many touched
    *     values, the whole table emptied).
    *
    * Pruning contract: the match must be PARTITION-STABLE — a batch row
    * only ever matches target rows in its own partition (the usual case:
    * the partition column is part of, or functionally determined by, the
    * key). A key that can match across partitions leaves the other
    * partition's old row in place; use the unpartitioned full rewrite for
    * such keys — Delta's guidance to put the partition predicate in the
    * merge condition. Bucket pruning holds it by construction: the bucket
    * is a function of the key. */
  private def rewriteDml(head: Option[Manifest], partitionBy: Seq[String],
                         prunable: String => Boolean, matched: Column,
                         batch: Option[DataFrame] = None,
                         firstWrite: Option[DataFrame] = None,
                         bucketKeyedBy: Option[String] = None)(
      rewrite: DataFrame => DataFrame): Long =
    head match {
      case None => commitAppended(None, writeData(firstWrite.get, partitionBy, None))
      case Some(cur) =>
        val pruned = partitionBy.headOption match {
          case Some(pcol) if prunable(pcol) => prunedRewrite(cur, matched,
            partitionBy, rewrite, batch.map(_.select(col(pcol))))
          case Some(_) => None
          case None => for {
            spec <- bucketSpec
            key <- batch.fold(Option(spec.column))(
              _.columns.find(_.equalsIgnoreCase(spec.column)))
            if prunable(key) &&
              bucketKeyedBy.forall(DataSkipping.keyEquiConjunct(spark, _, spec.column))
            v <- prunedRewrite(cur, matched, Seq(ManagedTable.BucketCol), rewrite,
              batch.map(_.select(spec.idOf(col(s"`$key`")).as(ManagedTable.BucketCol))))
          } yield v
        }
        pruned.getOrElse(commitAgainst(head,
          Seq(Entry(writeData(rewrite(readSnapshot(cur)), partitionBy, head), None))))
    }

  /** [[rewriteDml]]'s pruned path on the FIRST partition column (or the
    * bucket column): discover partitions of `cur` holding rows matching
    * `cond` (column-pruned scan, bounded driver-side value list) plus any
    * `extraTouched` key rows (the incoming batch's partitions or buckets),
    * run `rewriteSlice` over ONLY those partitions into a fresh dir, and
    * carry every other partition dir by manifest reference. None → the
    * caller falls back to the full rewrite.
    *
    * Emptied partitions are handled EXACTLY, not by falling back: the
    * touched values' encoded dir names come from Spark's own writer
    * encoding ([[ManagedTable.partitionDirNames]] — no hand-rolled
    * partition-value encoding, so dates/timestamps/specials/nulls all get
    * Spark's own escaping), and every touched old dir is dropped whether
    * or not the rewrite produced a replacement — a touched partition with
    * no surviving rows simply disappears from the snapshot, which is the
    * correct result for a partition-emptying delete/replace/CDC batch.
    * A count-based "did everything get rewritten" guard is NOT sound
    * here: an op that empties one touched partition while inserting a new
    * one keeps the counts equal and would silently resurrect the emptied
    * partition's rows. */
  private def prunedRewrite(cur: Manifest, cond: Column, partitionBy: Seq[String],
                            rewriteSlice: DataFrame => DataFrame,
                            extraTouched: Option[DataFrame]): Option[Long] = {
    val pcol = partitionBy.head
    val prefix = pcol + "="
    // the entries' resolved files answer BOTH layout splittability and
    // the carry-candidate (name, entry) list, with no listing of their own.
    // splittable = every entry is either already a single-partition subdir
    // reference or a dir whose data files all sit in pcol=… subdirs
    val childBuilder = Seq.newBuilder[(String, Entry)]
    val splittable = cur.entries.forall { e =>
      val name = new Path(e.dir).getName
      if (name.startsWith(prefix)) { childBuilder += name -> e; true }
      else {
        val below = underDir(e.dir)
        below.map(_.head).distinct.foreach(sub => childBuilder +=
          sub -> Entry(s"${e.dir}/$sub", Some(e.base.getOrElse(e.dir))))
        below.forall(b => b.length == 2 && b.head.startsWith(prefix))
      }
    }
    if (!splittable) return None
    val children: Seq[(String, Entry)] = childBuilder.result()
    val isBucket = pcol == ManagedTable.BucketCol
    // Bucket dirs are written exclusively by this layer from an INT bucket
    // id, so a dir name is canonical iff it re-encodes from its parsed int
    // (`__gbucket=5`, never `05`/`+5`/non-numeric). A non-canonical name
    // means an external writer laid the dir out; its rows could dodge the
    // drop set below, so bail to the full rewrite. This pure string check
    // IS the bucket path's presence guard: with every name canonical, rows
    // holding bucket value v live exactly in dir `__gbucket=v`, so a
    // touched value with current rows always re-encodes to an existing
    // dir — the invariant the partition path below must pay a scan to
    // establish.
    if (isBucket && !children.forall { case (n, _) =>
        n.stripPrefix(prefix).toIntOption.exists(v => prefix + v == n) })
      return None
    // with cond = lit(false) (the upsert paths) Catalyst folds this
    // branch of the union to an empty relation — no scan tasks run
    val matchKeys = readSnapshot(cur, Some(cond), withBucket = true).select(col(pcol))
    // the union's resolved schema (not matchKeys') types the collected
    // rows: a batch whose key column is wider than the table's coerces
    val keyed = extraTouched.fold(matchKeys)(matchKeys.union)
    val touchedRows = keyed.distinct()
      .limit(ManagedTable.MaxPrunedPartitions + 1).collect()
    if (touchedRows.length > ManagedTable.MaxPrunedPartitions) return None
    if (touchedRows.isEmpty)
      return Some(commitAgainst(Some(cur), cur.entries, cur.dvs))
    val touchedVals = touchedRows.map(_.get(0))
    // bucket ids are non-null ints by construction (pmod(hash(k), n) is
    // non-null even for null keys); anything else means a caller handed a
    // foreign frame — fall back rather than mis-encode
    if (isBucket && !touchedVals.forall(_.isInstanceOf[java.lang.Integer]))
      return None
    val keyType = keyed.schema.head.dataType
    val encodedTouched: Set[String] =
      if (isBucket) touchedVals.map(v => prefix + v).toSet
      else ManagedTable.partitionDirNames(spark, pcol, keyType, touchedVals.toSeq)
    val nonNull = touchedVals.filter(_ != null)
    val hasNull = touchedVals.exists(_ == null)
    var sliceCond = if (nonNull.nonEmpty)
      col(pcol).isin(nonNull.toIndexedSeq: _*) else lit(false)
    if (hasNull) sliceCond = sliceCond || col(pcol).isNull

    // Round-trip guard (non-bucket partitions): dropping a touched old dir
    // relies on its name matching the RE-ENCODED touched value. If an
    // existing dir's name doesn't round-trip through Spark's
    // value-parse/re-encode (a dir from an external writer's escaping, a
    // timestamp partition under a changed session timezone, a
    // type-widening batch re-encoding `p=5` as `p=5.0`), the touched old
    // dir would be silently carried — deleted rows resurrect, merged rows
    // duplicate. The sound invariant is PRESENCE-based: every touched
    // value that actually has rows in the current snapshot must re-encode
    // to an existing dir name (that is the dir the drop set will remove).
    // Checking "touched name is in the rewrite output" instead is NOT
    // safe — a widening batch that UPDATES rather than empties a
    // partition puts the re-encoded name into the rewrite output, which
    // would vouch for a name matching no old dir while the real old dir
    // is silently carried. Touched values with NO current rows are
    // genuinely new partitions and constrain nothing. Bail to the full
    // rewrite on any mismatch — BEFORE the rewrite write, so the bail
    // costs one pruned key scan, not a wasted data write. The bucket path
    // established the same invariant structurally above (canonical int
    // names), so it skips the scan.
    if (!isBucket) {
      val existingNames = children.iterator.map(_._1).toSet
      val presentRows = readSnapshot(cur, Some(sliceCond))
        .select(col(pcol).cast(keyType).as(pcol))
        .distinct().limit(ManagedTable.MaxPrunedPartitions + 1).collect()
      val encodedPresent = ManagedTable.partitionDirNames(spark, pcol, keyType,
        presentRows.toSeq.map(_.get(0)))
      if (!encodedPresent.forall(existingNames.contains)) return None
    }

    // the isin filter prunes the scan to touched partitions before the
    // per-row rewrite applies
    val newDir = writeData(rewriteSlice(readSnapshot(cur, Some(sliceCond))),
      partitionBy, Some(cur))
    val rewritten = underDir(newDir).map(_.head).filter(_.startsWith(prefix)).toSet
    // every touched old dir leaves the snapshot (rewritten-or-emptied);
    // `rewritten` also covers partitions the op newly introduced
    val drop = encodedTouched ++ rewritten
    val carried = children.collect { case (n, e) if !drop.contains(n) => e }
    // a fresh dir with no data subdirs is unreadable (it has no footer to
    // read a schema from) — commit carried entries only; a table emptied
    // ENTIRELY falls back to the full rewrite, which owns that edge
    val entries =
      if (rewritten.nonEmpty) carried :+ Entry(newDir, None) else carried
    if (entries.isEmpty) return None
    Some(commitAgainst(Some(cur), entries, cur.dvs))
  }

  /** Change-data-feed analogue (reference load/entrypoint.py:222-229):
    * rows of the current snapshot not present in the last snapshot
    * committed BEFORE `tsMillis` (inclusive start). `exceptAll` keeps
    * multiplicity: a table legitimately holding k duplicate rows that grew
    * to k+m reports exactly m changed rows (plain `except` is set-semantics
    * and would under-report the diff as empty). */
  def changesSince(tsMillis: Long): DataFrame =
    changeFeed(tsMillis) {
      case (cur, None)      => cur // no snapshot predates the start → full feed
      case (cur, Some(old)) => cur.exceptAll(old)
    }

  /** Change feed WITH Delta-CDF-style `_change_type` markers: rows only in
    * the current snapshot are `insert`, rows only in the base snapshot are
    * `delete` (both multiplicity-aware via `exceptAll`). An updated row
    * surfaces as its delete+insert pair — the table layer has no key
    * knowledge to pair them into `update_pre/postimage`, which is the
    * honest degradation of Delta's CDF off-Databricks. */
  def changesWithType(tsMillis: Long): DataFrame =
    changeFeed(tsMillis) {
      case (cur, None) => cur.withColumn("_change_type", lit("insert"))
      case (cur, Some(old)) =>
        cur.exceptAll(old).withColumn("_change_type", lit("insert"))
          .unionByName(old.exceptAll(cur).withColumn("_change_type", lit("delete")))
    }

  /** `diff` of the head snapshot and the last snapshot committed BEFORE
    * `tsMillis`, if any — both from one O(versions) log fold, whose last
    * manifest is the head. An absent table has an empty feed. */
  private def changeFeed(tsMillis: Long)(
      diff: (DataFrame, Option[DataFrame]) => DataFrame): DataFrame = {
    val all = manifests()
    all.lastOption.fold(spark.emptyDataFrame)(head => diff(readSnapshot(head),
      all.filter(_.timestamp < tsMillis).lastOption.map(readSnapshot(_))))
  }

  private def statsDirFor(e: Entry): String =
    s"$path/_graft_stats/${new Path(e.base.getOrElse(e.dir)).getName}"

  private def bloomDirFor(e: Entry): String =
    s"$path/_graft_blooms/${new Path(e.base.getOrElse(e.dir)).getName}"

  /** Collect per-file bloom filters (see [[DataSkipping]] bloom skipping)
    * on `cols` for every data dir of the current snapshot that lacks them
    * — Delta's bloom filter index. Size via `itemsPerFile` (distinct keys
    * a file may hold) and `fpp`; both trade sidecar bytes for skip rate.
    * Like stats, blooms are keyed by data dir, so carried dirs are
    * aggregated once, ever. */
  def collectBlooms(cols: Seq[String], itemsPerFile: Long = 1000000L,
                    fpp: Double = 0.01): Unit = {
    require(exists, s"collectBlooms on absent table $path")
    collectSidecars(bloomDirFor, (dataDir, sd) =>
      DataSkipping.fileBlooms(spark, dataDir, None, cols, itemsPerFile, fpp)
        .write.mode("overwrite").parquet(sd))
  }

  /** Shared sidecar-collection loop: one producer pass per data dir of
    * the current snapshot that lacks its sidecar (dirs carried across
    * versions — including pruned-merge partition subdirs, which share
    * their base dir's sidecar — are produced once, ever). The producer
    * receives (dataDir, sidecarDir) and owns the write, so collectors
    * with extra staging (the footer path) share this keying/existence
    * logic instead of re-implementing it. */
  private def collectSidecars(sidecarFor: Entry => String,
                              produce: (String, String) => Unit): Unit =
    lastManifest().get.entries
      .map(e => (sidecarFor(e), e.base.getOrElse(e.dir)))
      .distinct
      .filterNot { case (sd, _) => FsUtils.exists(spark, sd) }
      .foreach { case (sd, dataDir) => produce(dataDir, sd) }

  /** Collect per-file data-skipping stats (see [[DataSkipping]]) for every
    * data dir of the current snapshot that doesn't have them yet. Stats are
    * keyed by the dir they describe (`_graft_stats/d<N>`), so a dir carried
    * across versions — including partition subdirs carried by pruned
    * merges, which share their base dir's stats — is aggregated once, ever.
    * `cols` restricts the statted columns (empty = the first
    * [[DataSkipping.MaxStatsColumns]] atomic columns). Each missing dir
    * costs one distributed, column-pruned aggregation pass. */
  def collectStats(cols: Seq[String] = Nil): Unit = {
    require(exists, s"collectStats on absent table $path")
    collectSidecars(statsDirFor, (dataDir, sd) =>
      DataSkipping.fileStats(spark, dataDir, None, cols)
        .write.mode("overwrite").parquet(sd))
  }

  /** Like [[collectStats]] but computed from parquet FOOTERS — ZERO data
    * bytes are read (one ~KB footer per file, distributed), where the
    * scan-based pass re-reads every data byte of the dir. At 100 TB that
    * is a metadata sweep instead of a second full table pass. Same
    * sidecar format and conventions, so pruning consumes either.
    * Limits (see [[DataSkipping.fileStatsFromFooters]]): fixed-width
    * columns plus UTF8 strings (string max bounds are truncation-safely
    * WIDENED, so boundary equality keeps a file scan mode would prune —
    * never the wrong direction); float/double/decimal/binary are excluded
    * (requested-but-excluded columns warn); a column any file can't vouch
    * for is left out of that dir's sidecar entirely (pruning skips it,
    * never wrong). */
  def collectStatsFromFooters(cols: Seq[String] = Nil): Unit = {
    require(exists, s"collectStatsFromFooters on absent table $path")
    collectSidecars(statsDirFor, (dataDir, sd) => {
      // raw footer rows stage on the TABLE's own filesystem — not
      // process-local scratch, which on a multi-node deployment would
      // hand the driver a partial stats table and silently drop files
      // from every pruned read. `_tmp-` under _graft_stats is outside
      // the sidecar namespace (dirs are named d<N>…) and vacuum's
      // sidecar-orphan sweep reaps any crash leftovers.
      val staging = s"$path/_graft_stats/_tmp-${
        java.util.UUID.randomUUID().toString.take(12)}"
      try DataSkipping.fileStatsFromFooters(spark, dataDir, None, cols,
          Some(staging))
        .write.mode("overwrite").parquet(sd)
      finally FsUtils.deleteFiles(spark, Seq(staging))
    })
  }

  /** Per-entry file selection for `condition`: (entry, Some(surviving
    * file paths) or None = read the whole entry unpruned, kept count,
    * files before pruning). Entries without collected stats prune nothing
    * (pruning never affects correctness). The stats filter runs
    * distributed, and the driver only ever collects a kept-list bounded
    * by [[ManagedTable.MaxPruneFiles]]: when more files than that survive
    * the stats filter, pruning is SKIPPED for the entry (None) — a
    * selection that weak saves little scan time, and the full-dir read
    * takes the entry's resolved files instead of shipping a
    * multi-million-path array through the driver.
    * This is the same ceiling treatment the registry path handout got
    * (`PathBatchSize`, SURVEY §2.4).
    * When bloom sidecars exist ([[collectBlooms]]), equality/IN conjuncts
    * additionally drop files whose filters prove the key absent — the
    * point-lookup case min/max can't prune on unclustered data. */
  private def pruneEntries(entries: Seq[Entry], condition: String,
                           withCounts: Boolean): Seq[(Entry, Option[Seq[String]], Long, Long)] =
    entries.map { e =>
      val cap = ManagedTable.maxPruneFiles(spark)
      val sd = statsDirFor(e)
      val bd = bloomDirFor(e)
      val prefix = DataSkipping.canonPath(e.dir)
      // stats sidecars can serve several entries sharing a base dir
      // (compaction merges); restrict rows to this entry's subtree. The
      // canonicalization runs distributed so no unbounded path list is
      // ever collected just to be counted.
      val canon = org.apache.spark.sql.functions.udf(DataSkipping.canonPath _)
      def underEntry(df: DataFrame): DataFrame =
        if (e.base.isEmpty) df
        else {
          val p = canon(col(DataSkipping.PathCol))
          df.where(p === prefix || p.startsWith(prefix + "/"))
        }
      // canonical kept paths minus those the bloom sidecars DISPROVE
      // (equality/IN point lookups min/max can't prune on unclustered
      // data). Absent rows — files written after collection — never land
      // in the disproven set, so they survive.
      def bloomPrune(afterStats: Seq[String]): Seq[String] =
        if (afterStats.isEmpty || !FsUtils.exists(spark, bd)) afterStats
        else {
          val blooms = spark.read.parquet(bd)
          val bloomedTypes = {
            val schema = scan(e).schema
            blooms.schema.fieldNames.filter(_.startsWith("bloom_"))
              .map(_.stripPrefix("bloom_")).flatMap(c =>
                schema.fields.find(_.name.equalsIgnoreCase(c))
                  .map(f => f.name -> f.dataType)).toMap
          }
          DataSkipping.bloomKeep(spark, condition, bloomedTypes) match {
            case None => afterStats // no equality conjunct on a bloomed col
            case Some(keep) =>
              // capped like the kept list; an over-cap disproven set
              // leaves the overflow files un-pruned — the safe direction
              val pruned = blooms.where(org.apache.spark.sql.functions.not(keep))
                .select(DataSkipping.PathCol).limit(cap + 1).collect()
                .map(r => DataSkipping.canonPath(r.getString(0))).toSet
              afterStats.filterNot(pruned.contains)
          }
        }
      if (FsUtils.exists(spark, sd)) {
        val stats = underEntry(spark.read.parquet(sd))
        val statCols = stats.schema.fieldNames.toSeq
          .filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
          .map(c => c.toLowerCase -> c).toMap
        val mm = DataSkipping.mightMatchSql(spark, condition, statCols)
        // the pre-prune total is observability-only (pruneInfo); readWhere
        // skips the extra job entirely
        val total = if (withCounts) stats.count() else -1L
        val keptRows = stats.where(mm).select(DataSkipping.PathCol)
          .limit(cap + 1).collect()
        if (keptRows.length > cap) {
          org.slf4j.LoggerFactory.getLogger(classOf[ManagedTable])
            .info(s"prune(${e.dir}): >$cap files survive stats for " +
              s"'$condition' — skipping pruning (bounded driver list)")
          (e, None, total, total)
        } else {
          val kept = bloomPrune(keptRows
            .map(r => DataSkipping.canonPath(r.getString(0))).toSeq)
          (e, Some(kept), kept.length.toLong, total)
        }
      } else if (FsUtils.exists(spark, bd)) {
        // BLOOM-ONLY pruning (collectBlooms without collectStats): the
        // file list is the dir's resolved files, canonicalized to match the bloom
        // sidecar's paths, bounded by the same cap
        val files = dataFiles(e).map(_.getPath.toUri.getPath)
        if (files.length > cap) (e, None, files.length.toLong, files.length.toLong)
        else {
          val kept = bloomPrune(files)
          (e, Some(kept), kept.length.toLong, files.length.toLong)
        }
      } else {
        // no sidecars: nothing to prune with — the whole dir is read
        // (no path array crosses this layer); only pruneInfo counts files
        val n = if (withCounts) dataFiles(e).size.toLong else -1L
        (e, None, n, n)
      }
    }

  /** (files read, files in snapshot) for `condition` — the observability
    * hook specs and operators use to assert skipping actually happened. */
  def pruneInfo(condition: String): (Long, Long) = {
    val sel = pruneEntries(lastManifest().get.entries, condition, withCounts = true)
    (sel.map(_._3).sum, sel.map(_._4).sum)
  }

  /** Read the current snapshot with file-level data skipping: files whose
    * [[DataSkipping]] stats prove no row can satisfy `condition` are never
    * opened; the residual filter still applies (pruning is planning-time
    * only, row-level filtering is unchanged). Falls back to a plain
    * filtered read when no stats exist. */
  def readWhere(condition: String): DataFrame =
    lastManifest().fold(spark.emptyDataFrame)(
      readSnapshot(_, Some(expr(condition)), pruneFor = Some(condition)))

  /** Structured-Streaming SOURCE over an APPEND-ONLY table: a parquet
    * file-stream on the table's data-dir glob. Every [[append]] commits a
    * fresh `d<v>-…` dir whose files the source discovers on its next poll,
    * so `table.streamAppends() → transform → writeStream` chains
    * incremental pipelines off the table exactly like Delta's streaming
    * source in append-only mode (checkpointed offsets = processed files;
    * replays are exact). CAVEAT (Delta's too, absent skipChangeCommits):
    * snapshot-REPLACING commits — clean_write, a rewriting merge,
    * optimize, compactSmall, restore — rewrite existing rows into new
    * files, which a file-offset source would surface as phantom new
    * appends. Attach streams only to ingest tables maintained by append,
    * and compact them in maintenance windows when no stream is attached
    * (or with the stream's checkpoint advanced past the rewrite).
    * Partition columns live in dir names, not files, so stream
    * unpartitioned ingest tables (partition-shaping belongs downstream). */
  def streamAppends(): DataFrame = {
    val head = lastManifest()
    require(head.nonEmpty, s"streamAppends on absent table $path")
    require(head.forall(_.dvs.isEmpty),
      s"streamAppends on $path: table has deletion vectors — a file-offset " +
        "source cannot subtract them (and would also surface dv sidecar " +
        "dirs); OPTIMIZE to materialize the vectors first")
    require(head.forall(_.renames.isEmpty),
      s"streamAppends on $path: table has a live column mapping — a raw " +
        "file-glob source reads physical names and would null out renamed " +
        "columns; OPTIMIZE to materialize the renames first")
    require(bucketSpec.isEmpty,
      s"streamAppends on $path: table is bucketed — partition-shaped " +
        "layouts are unsupported as raw file-glob stream sources (same " +
        "caveat as explicit partitionBy, see above); stream the unbucketed " +
        "ingest table and bucket downstream")
    spark.readStream.schema(readSnapshot(head.get).schema).parquet(s"$path/d*")
  }

  /** Shared OPTIMIZE clustering: a z-order request approximates to
    * range-partition + sortWithinPartitions (multi-column via the
    * bit-interleaved Morton key, see [[ZOrder]] — per-file min/max stats
    * then prune on EVERY z-ordered column, not just the leading one);
    * bucketed tables compact BY BUCKET (one file per non-empty bucket,
    * not tasks × buckets — same shape as [[compactSmall]]). */
  private def clusterFor(cur: DataFrame, zorderBy: Seq[String],
                         n: Int): DataFrame =
    if (zorderBy.size > 1) {
      val zk = ZOrder.zOrderKey(cur, zorderBy)
      cur.withColumn("__zkey", zk)
        .repartitionByRange(n, col("__zkey"))
        .sortWithinPartitions(col("__zkey"))
        .drop("__zkey")
    } else if (zorderBy.nonEmpty)
      cur.repartitionByRange(n, zorderBy.map(col): _*)
        .sortWithinPartitions(zorderBy.map(col): _*)
    else bucketSpec match {
      case Some(spec)
          if cur.columns.exists(_.equalsIgnoreCase(spec.column)) =>
        val key = cur.columns.find(_.equalsIgnoreCase(spec.column)).get
        cur.repartition(n, spec.idOf(col(s"`$key`")))
      case _ => cur.repartition(n)
    }

  // Optimize watermark: a one-line hint naming the last version an
  // optimize (full or incremental) produced, so [[optimizeIncremental]]
  // can tell already-clustered dirs from post-optimize arrivals without
  // replaying the log. Advisory metadata like the version hint:
  // missing/stale/vacuumed → the incremental path degrades to the full
  // footprint, never to a wrong result.
  private def optimizeWatermarkPath = s"$logDir/_optimize_watermark"

  /** OPTIMIZE [ZORDER BY cols]: compact the current snapshot's dir list
    * into ONE dir; a z-order request approximates to range-partition +
    * sortWithinPartitions on those columns — same data-skipping effect for
    * parquet min/max stats (reference batch_delta.py:116-134). O(table)
    * per run — at 100 TB prefer [[optimizeIncremental]] on a cadence with
    * this full pass reserved for restoring global clustering. */
  def optimize(zorderBy: Seq[String] = Nil, targetPartitions: Int = 0,
               partitionBy: Seq[String] = Nil): Long = {
    if (!exists) throw new AnalysisException("TABLE_OR_VIEW_NOT_FOUND", Map("relationName" -> path))
    val v = withCommitRetry("optimize") { h =>
      val curM = h.get
      // readSnapshot: a full compaction MATERIALIZES the deletion vectors
      // (vectored rows drop out of the rewrite) and the fresh manifest
      // clears them — OPTIMIZE is the DV purge path, exactly like Delta
      val cur = readSnapshot(curM)
      val n = if (targetPartitions > 0) targetPartitions
              else math.max(1, spark.sparkContext.defaultParallelism / 2)
      val compacted = clusterFor(cur, zorderBy, n)
      // pass the table's partition columns so compaction keeps the hive
      // layout — otherwise one OPTIMIZE would flatten the dirs and disable
      // both scan-time partition pruning and future pruned merges
      // the rewrite materializes the logical schema into the data files,
      // so the column mapping resets — OPTIMIZE is the "make renames
      // physical" path (and the escape hatch that frees a dropped name
      // for re-use)
      commitAgainst(h, Seq(Entry(writeData(compacted, partitionBy, h), None)),
        renames = Some(Nil))
    }
    writeVersionFile(optimizeWatermarkPath, v)
    v
  }

  /** Incremental OPTIMIZE [ZORDER BY cols]: compact/cluster ONLY the dirs
    * written since the last optimize watermark; every dir the snapshot at
    * the watermark already held carries over by manifest reference —
    * O(data landed since the last optimize), not O(table). This is the
    * maintenance cost model a 100 TB ingest table needs: the full
    * [[optimize]] rewrite is a per-run table scan it cannot pay, while
    * the append tail it actually accumulates stays small. Clustering
    * quality matches Delta's incremental OPTIMIZE: each optimized dir is
    * internally clustered (per-file min/max stats prune within it); run
    * the full pass in a maintenance window if global clustering ever
    * degrades. Differences from the full pass, by necessity: column
    * renames are NOT materialized (carried dirs keep physical names) and
    * deletion vectors are materialized only for the rewritten slice —
    * both mappings stay live. Output is sized by the fresh slice's bytes
    * (`targetBytes`-sized files), not the cluster's parallelism. Returns
    * the current version unchanged when nothing new landed. */
  def optimizeIncremental(zorderBy: Seq[String] = Nil,
                          targetPartitions: Int = 0,
                          partitionBy: Seq[String] = Nil,
                          targetBytes: Long = 128L * 1024 * 1024): Long = {
    if (!exists) throw new AnalysisException("TABLE_OR_VIEW_NOT_FOUND", Map("relationName" -> path))
    val v = withCommitRetry("optimizeIncremental") { h =>
      val cur = h.get
      val baseline: Set[Entry] = (for {
        w <- readVersionFile(optimizeWatermarkPath)
        m <- manifestAt(w)
      } yield m.entries.toSet).getOrElse(Set.empty)
      val (carried, fresh) = cur.entries.partition(baseline.contains)
      if (fresh.isEmpty) cur.version // nothing landed since the watermark
      else {
        // DV-aware read of ONLY the fresh entries (rewriting from
        // un-vectored files would resurrect deleted rows); DVs carry
        // over for the carried dirs — vector rows addressing rewritten
        // files become inert, exactly like [[compactSmall]]
        val folded = readSnapshot(cur.copy(entries = fresh))
        val n = if (targetPartitions > 0) targetPartitions
          else {
            val bytes = fresh.flatMap(dataFiles).map(_.getLen).sum
            math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          }
        val newEntry = Entry(writeData(clusterFor(folded, zorderBy, n),
          partitionBy, h), None)
        // DV sidecars fold to LIVE rows only (those addressing carried
        // dirs) — incremental-only maintenance must shed the vectors the
        // rewrite just materialized, or they accumulate forever
        commitAgainst(h, carried :+ newEntry, foldDvs(cur, carried))
      }
    }
    writeVersionFile(optimizeWatermarkPath, v)
    v
  }

  /** Delta-style RESTORE: roll the table back to snapshot `v` by
    * committing a NEW version whose entries are v's entries — history is
    * preserved (the bad versions stay time-travelable until VACUUM), the
    * restore itself is a manifest write, no data moves. */
  def restore(v: Long): Long = {
    val m = resolveVersion(v) // vacuumed target → loud, cause-naming error
    // the restored snapshot's column mapping travels with its data; the
    // commit is blind, so a lost race only rebases the manifest
    withCommitRetry("restore")(commitAgainst(_, m.entries, m.dvs, Some(m.renames)))
  }

  /** Delta-style shallow CLONE: create a table at `targetPath` whose
    * first manifest references THIS table's current data dirs — a
    * zero-copy snapshot (the 100 TB dev/test-sandbox primitive: cloning
    * costs one manifest write regardless of table size). The clone's
    * subsequent writes land under its own path and never touch the
    * source; vacuuming the clone can't delete source dirs because its
    * orphan scan only ever matches dirs its own manifests dropped.
    * CAVEAT (same as Delta's shallow clone): vacuuming the SOURCE can
    * remove dirs the clone still references — deep-copy (`read` +
    * `write`) when lifetimes are independent. */
  def cloneTo(targetPath: String): ManagedTable = {
    val target = new ManagedTable(spark, targetPath)
    require(!target.exists, s"clone target already exists: $targetPath")
    val m = lastManifest()
    // CAS at the target's version 0: of two racing clones to one path,
    // exactly one wins and the other fails loudly
    ManagedTable.currentOp.withValue("clone") {
      target.commitAgainst(None, m.map(_.entries).getOrElse(Nil),
        m.map(_.dvs).getOrElse(Nil), Some(m.map(_.renames).getOrElse(Nil)))
    }
    // table properties travel with the clone: CHECK constraints, schema
    // enforcement and the bucket spec are part of the table's contract,
    // not of one snapshot — a clone losing its checks would accept
    // batches the source rejects, and one losing its bucket spec would
    // silently write unbucketed dirs
    if (FsUtils.exists(spark, propsPath)) target.writeProps(readProps())
    target
  }

  /** Incremental small-file compaction — Delta's OPTIMIZE binpacking
    * without the full-table rewrite: only snapshot entries whose data
    * files are small (mean size below `targetBytes / 2` with more than
    * one file) are coalesced into one fresh right-sized dir; every
    * healthy dir carries over by manifest reference untouched. This is
    * the maintenance op a streaming/append-heavy table needs at 100 TB —
    * each AvailableNow batch appends a small dir, and compaction cost
    * must track the SMALL tail, not the table. File sizes come from each
    * entry's resolved files ([[dataFiles]]); the rewrite sizes its output by total
    * bytes / targetBytes. Returns the new version (a no-op commit when
    * nothing qualifies). */
  def compactSmall(targetBytes: Long = 128L * 1024 * 1024,
                   partitionBy: Seq[String] = Nil): Long = {
    require(exists, s"compactSmall on absent table $path")
    withCommitRetry("compactSmall") { h =>
      val cur = h.get
      val sized = cur.entries.map(e => (e, dataFiles(e).map(_.getLen)))
      val (small, healthy) = sized.partition { case (_, sizes) =>
        sizes.nonEmpty && sizes.sum / sizes.length < targetBytes / 2
      }
      val totalBytes = small.flatMap(_._2).sum
      val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      // nothing small, or already as packed as it gets (e.g. ONE small
      // single-file dir, or a just-compacted dir still under target) —
      // return the current version WITHOUT committing: a streaming sink
      // calling this on a cadence would otherwise mint a no-op manifest
      // (duplicating the whole entry list + txn map) every cadence point,
      // pure log churn at 10^5 micro-batches
      if (small.isEmpty || small.map(_._2.length).sum <= n)
        cur.version
      else {
        // subtract deletion vectors from the rewritten slice (rewriting
        // from un-vectored files would resurrect deleted rows); carried
        // healthy dirs may still have vectored rows so dvs carry over.
        // clusterFor repartitions a bucketed table BY BUCKET, so the
        // rewrite emits one file per non-empty bucket instead of (tasks ×
        // buckets) small files — the tail this compaction exists to fold
        val folded = readSnapshot(cur.copy(entries = small.map(_._1)))
        val healthyEntries = healthy.map(_._1)
        val newEntry =
          Entry(writeData(clusterFor(folded, Nil, n), partitionBy, h), None)
        // same DV fold as optimizeIncremental: the compacted slice's
        // vectors were materialized by the rewrite — shed them
        commitAgainst(h, healthyEntries :+ newEntry, foldDvs(cur, healthyEntries))
      }
    }
  }

  /** VACUUM RETAIN n HOURS: drop manifests older than the horizon (always
    * keeping the current one) and delete data dirs no retained manifest
    * references (reference batch_delta.py:136-155, incl. the <168h guard
    * unless explicitly overridden). Containment-aware: a dir is deletable
    * only when no retained reference equals it, lives inside it (a carried
    * partition subdir), or contains it (a whole-dir reference above a
    * dropped subdir entry). */
  def vacuum(retainHours: Double, enforceRetention: Boolean = true): Unit = {
    if (enforceRetention && retainHours < 168)
      throw new IllegalArgumentException(
        s"retentionDurationCheck: refusing VACUUM RETAIN $retainHours HOURS (<168); " +
          "pass enforceRetention=false to override")
    val horizon = System.currentTimeMillis() - (retainHours * 3600 * 1000).toLong
    val all = manifests()
    val current = all.lastOption.map(_.version).toSet
    val (dropped, retained) = all.partition(m =>
      m.timestamp < horizon && !current.contains(m.version))
    val referenced = retained.flatMap(_.entries).map(e => normPath(e.dir))
    def deletable(d: String): Boolean = {
      val n = normPath(d)
      !referenced.exists(r => r == n || r.startsWith(n + "/") || n.startsWith(r + "/"))
    }
    // never delete dirs OUTSIDE this table's own path: a shallow clone's
    // manifests reference the source table's dirs, which are borrowed,
    // not owned — the source's own vacuum governs their lifetime
    val own = normPath(path) + "/"
    val orphanDirs = dropped.flatMap(_.entries).map(_.dir).distinct
      .filter(d => normPath(d).startsWith(own))
      .filter(deletable)
    // also reap data dirs referenced by NO manifest at all — the residue
    // of optimistic commits that LOST their race (the op re-ran and wrote
    // a fresh dir). The retention horizon doubles as the in-flight guard:
    // a dir younger than the horizon may belong to a writer whose commit
    // hasn't landed yet, so it survives until a later vacuum.
    val allRefs = all.flatMap(_.entries).map(e => normPath(e.dir))
    val raceOrphans = FsUtils.listChildDirsWithModTime(spark, path)
      .filter { case (name, mod) => name.startsWith("d") && mod < horizon }
      .map { case (name, _) => s"$path/$name" }
      .filter { d =>
        val n = normPath(d)
        !allRefs.exists(r => r == n || r.startsWith(n + "/") || n.startsWith(r + "/"))
      }
    // DV sidecars: reap `_graft_dv/` dirs no RETAINED manifest references
    // (optimize/rewrite materialized them, or the manifest that introduced
    // them dropped past the horizon). Same in-flight guard as race
    // orphans — a sidecar younger than the horizon may belong to a commit
    // that hasn't landed.
    val retainedDvs = retained.flatMap(_.dvs).map(normPath).toSet
    val dvOrphans = FsUtils.listChildDirsWithModTime(spark, s"$path/_graft_dv")
      .filter { case (_, mod) => mod < horizon }
      .map { case (name, _) => s"$path/_graft_dv/$name" }
      .filter(d => !retainedDvs.contains(normPath(d)))
    // stats/bloom sidecars are keyed by their data dir's NAME: once no
    // retained manifest references a dir of that name (directly or as a
    // base), its sidecars are unreachable — reap them or they leak forever
    val liveNames = retained.flatMap(_.entries)
      .flatMap(e => Seq(e.dir) ++ e.base.toSeq)
      .map(d => new Path(d).getName).toSet
    val sidecarOrphans = Seq("_graft_stats", "_graft_blooms").flatMap { sc =>
      FsUtils.listChildDirsWithModTime(spark, s"$path/$sc")
        .filter { case (name, mod) => mod < horizon && !liveNames.contains(name) }
        .map { case (name, _) => s"$path/$sc/$name" }
    }
    // chain repair BEFORE any deletion: a retained DELTA manifest whose
    // parent is about to drop must first be materialized into a
    // self-contained `.checkpoint.json` shadow, or every later read of
    // that version (including the head, via the fold) would fail on the
    // broken chain. Ordering makes a crash mid-vacuum safe: checkpoints
    // land first, so the chain is never broken without its repair.
    // `retained` is already materialized (from manifests()'s fold), so
    // each checkpoint is one small write — no replay work here.
    val droppedVs = dropped.map(_.version).toSet
    retained.foreach { m =>
      val needsRepair = droppedVs.contains(m.version - 1) &&
        logFileAt(m.version).exists(_.isLeft)
      if (needsRepair)
        FsUtils.writeTextAtomic(spark, s"$logDir/${m.version}.checkpoint.json",
          MetadataCodec.encodeFull(m))
    }
    FsUtils.deleteFiles(spark,
      orphanDirs ++ raceOrphans ++ dvOrphans ++ sidecarOrphans ++
        dropped.map(m => s"$logDir/${m.version}.json") ++
        dropped.map(m => s"$logDir/${m.version}.checkpoint.json"))
    // fold the reap into the checkpoint hint: an ancient hint could name
    // a version this vacuum just deleted, which would demote every read
    // to the full-listing fallback until the next commit — re-point it at
    // the surviving head now
    retained.lastOption.foreach(m => writeVersionFile(hintPath, m.version))
  }

  /** Scheme-insensitive path form for containment checks (`file:/x` and
    * `/x` are the same local dir). */
  private def normPath(s: String): String = {
    val u = new Path(s).toUri
    if (u.getScheme == null || u.getScheme == "file") u.getPath else s
  }

  /** Register in the session catalog (reference common/hive_table.py:20-38).
    * Our snapshots move per-version, so the stable equivalent is a catalog
    * view over the current snapshot, refreshed on each write. Carried
    * partition-subdir entries become a pruned scan of their base dir
    * (`WHERE pcol = value` — partition pruning reads the same files, and
    * the partition column stays in the view's schema). */
  def registerAs(databaseName: String, tableName: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $databaseName")
    val m = lastManifest()
    val dvs = m.map(_.dvs).getOrElse(Nil)
    val renames = m.map(_.renames).getOrElse(Nil)
    // under deletion vectors each scan must carry per-row provenance so
    // the view can anti-join the vectored positions back out
    val meta = if (dvs.isEmpty) ""
      else s", _metadata.file_path AS $DvFile, _metadata.row_index AS $DvPos"
    // the view must mirror the READ path exactly: union BY NAME across
    // schema drift (positional UNION ALL would mis-map or fail on
    // different-width dirs), live renames applied, tombstoned columns
    // hidden — so each branch selects the table's LOGICAL columns
    // explicitly, null-filling the ones its dir predates
    def logicalName(phys: String): String =
      renames.foldLeft(phys) { case (n, (f, t)) =>
        if (n.equalsIgnoreCase(f)) t else n }
    val finalSchema = m.fold(new StructType())(readSnapshot(_).schema)
    def selectItems(e: Entry): String = {
      val phys = scan(e).schema
      val physByLogical = phys.fieldNames
        .map(p => logicalName(p).toLowerCase -> p).toMap
      finalSchema.map { f =>
        physByLogical.get(f.name.toLowerCase) match {
          case Some(p) => s"`$p` AS `${f.name}`"
          case None    => s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name}`"
        }
      }.mkString(", ")
    }
    val selects = m.map(_.entries).getOrElse(Nil) match {
      case Nil => Seq(s"SELECT *$meta FROM parquet.`$path`")
      case es => es.map {
        case e @ Entry(d, None) =>
          s"SELECT ${selectItems(e)}$meta FROM parquet.`$d`"
        case e @ Entry(d, Some(b)) =>
          // decode `pcol=value` path segments below the base into predicates
          val rel = normPath(d).stripPrefix(normPath(b)).stripPrefix("/")
          val preds = rel.split("/").toSeq.map { seg =>
            val Array(c, v) = seg.split("=", 2)
            if (v == "__HIVE_DEFAULT_PARTITION__") s"$c IS NULL"
            else {
              // '' doubling: a quote inside a partition VALUE must not
              // break (or inject into) the view body
              val lit = ExternalCatalogUtils.unescapePathName(v).replace("'", "''")
              s"CAST($c AS STRING) = '$lit'"
            }
          }
          s"SELECT ${selectItems(e)}$meta FROM parquet.`$b` " +
            s"WHERE ${preds.mkString(" AND ")}"
      }
    }
    val unioned = selects.mkString(" UNION ALL ")
    val body = if (dvs.isEmpty) unioned else {
      val cols = finalSchema.fieldNames.map(c => s"t.`$c`").mkString(", ")
      val dvScan = dvs.map(d => s"SELECT * FROM parquet.`$d`")
        .mkString(" UNION ALL ")
      s"""SELECT $cols FROM ($unioned) t LEFT ANTI JOIN ($dvScan) dv
         |ON t.$DvFile = dv.$DvFile AND t.$DvPos = dv.$DvPos""".stripMargin
    }
    spark.sql(
      s"CREATE OR REPLACE VIEW $databaseName.$tableName AS $body")
  }

  /** A fresh dir under `prefix` for data committed on top of `head`: the
    * next version plus a random suffix. Concurrent writers (and retried
    * optimistic commits) must never share a dir — parquet overwrite mode
    * would clobber the other writer's files mid-job. Nothing parses the
    * name back; manifests carry full paths. A dir whose commit LOSES its
    * race is left unreferenced and reaped by vacuum's orphan sweeps. */
  private def freshDir(prefix: String, head: Option[Manifest]): String =
    s"$prefix${head.fold(0L)(_.version + 1)}-${java.util.UUID.randomUUID.toString.take(8)}"

  /** Write `df` as a fresh data dir for the commit on top of `head`. */
  private def writeData(df: DataFrame, partitionBy: Seq[String],
                        head: Option[Manifest]): String = {
    val dir = freshDir(s"$path/d", head)
    // bucket transform: the hidden bucket partition is ALWAYS recomputed
    // from the key column here (any stale __gbucket a rewrite carried in
    // is dropped first), so the layout can never drift from the data. The
    // bucket level sits innermost so explicit partition columns keep
    // their top-level dirs (pruned DML on partitionBy.head unaffected).
    // No shuffle is added — like Delta, append cost stays O(new data);
    // a task spanning several buckets writes one file per (task, bucket).
    val (toWrite, parts) = bucketSpec match {
      case Some(spec) if df.columns.exists(_.equalsIgnoreCase(spec.column)) =>
        val key = df.columns.find(_.equalsIgnoreCase(spec.column)).get
        (df.drop(ManagedTable.BucketCol).withColumn(ManagedTable.BucketCol,
            spec.idOf(col(s"`$key`"))),
          partitionBy.filterNot(_ == ManagedTable.BucketCol) :+
            ManagedTable.BucketCol)
      case _ => (df.drop(ManagedTable.BucketCol), partitionBy)
    }
    val w = toWrite.write.mode("overwrite")
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(dir)
    // resolved now, so the first read after the commit lists nothing
    ManagedTable.resolve(spark, dir)
    dir
  }

  /** The one commit: `entries` (with `dvs`) as the snapshot after `head`,
    * at exactly version head+1, by put-if-absent on its log file — a
    * manifest either exists completely or not at all, so a crash mid-write
    * can never corrupt the log. Losing that version to a concurrent writer
    * throws [[ManagedTable.ConcurrentWriteException]], and
    * [[withCommitRetry]] re-runs the operation against the new head. This
    * is Delta's optimistic-concurrency loop with recompute-on-conflict in
    * place of logical conflict classification — always serializable,
    * never a silent lost update.
    *
    * `renames` None carries `head`'s mapping forward (the op was computed
    * against that snapshot, so its mapping is the valid one); Some sets it
    * outright (clean_write resets, restore restores the target's, rename
    * extends). `txn` is THIS commit's markers; materialized snapshots keep
    * them CUMULATIVE (delta replay folds parent ++ delta, full manifests
    * store the folded map), so [[lastTxn]] resolves from the head alone.
    *
    * What lands on disk (round-11 delta-encoded log): a DELTA action
    * manifest — add/remove entry actions, dv deltas, this commit's txn
    * markers — when `head` exists and the version is off the checkpoint
    * cadence, so commit bytes are O(changed dirs); a FULL self-contained
    * manifest every [[ManagedTable.checkpointInterval]]-th version (and
    * always at v0), bounding delta replay. The delta is written ONLY when
    * replaying it over `head` provably reproduces the intended entry/dv
    * lists exactly (order included) — any reordering op falls back to a
    * full manifest, so replay correctness never depends on op-specific
    * ordering conventions. */
  private def commitAgainst(head: Option[Manifest], entries: Seq[Entry],
                            dvs: Seq[String] = Nil,
                            renames: Option[Seq[(String, String)]] = None,
                            txn: Map[String, Long] = Map.empty): Long = {
    val v = head.fold(0L)(_.version + 1)
    val resolved = renames.getOrElse(head.fold(Seq.empty[(String, String)])(_.renames))
    val ts = System.currentTimeMillis()
    val op = ManagedTable.currentOp.value
    def full: String = MetadataCodec.encodeFull(Manifest(v, ts, entries, dvs,
      resolved, head.fold(Map.empty[String, Long])(_.txn) ++ txn, op))
    val interval = ManagedTable.checkpointInterval(spark)
    val body: String = head match {
      case Some(p) if interval > 1 && v % interval != 0 =>
        val d = DeltaRecord(v, ts, entries.filterNot(p.entries.toSet),
          p.entries.filterNot(entries.toSet), dvs.filterNot(p.dvs.toSet),
          p.dvs.filterNot(dvs.toSet),
          if (resolved == p.renames) None else Some(resolved), txn, op)
        val replayed = applyDelta(p, d)
        if (replayed.entries == entries && replayed.dvs == dvs)
          MetadataCodec.encodeDelta(d)
        else full
      case _ => full
    }
    if (!FsUtils.writeTextIfAbsent(spark, s"$logDir/$v.json", body))
      throw new ManagedTable.ConcurrentWriteException(path, head.map(_.version))
    // refresh the _last_checkpoint hint AFTER the manifest is durable —
    // readers probing forward from it must always find the named version
    writeVersionFile(hintPath, v)
    v
  }

  /** The one commit loop: runs `attempt` against a head and, each time its
    * [[commitAgainst]] loses a race, re-runs it against the head resolved
    * anew — at most [[ManagedTable.MaxCommitAttempts]] attempts. The first
    * attempt gets `first`: the head resolved once, or the one the caller
    * already resolved to validate, name and write its data. Read-modify-
    * write ops recompute against each head; blind commits (append, write,
    * restore) only rebase their manifest onto it. */
  private def withCommitRetry[T](op: String, first: => Option[Manifest] = lastManifest())(
      attempt: Option[Manifest] => T): T = {
    def run(head: Option[Manifest], lost: Int): T =
      (try Right(attempt(head))
       catch { case e: ManagedTable.ConcurrentWriteException => Left(e) }) match {
        case Right(v) => v
        case Left(e) if lost + 1 == ManagedTable.MaxCommitAttempts =>
          throw new java.io.IOException(s"$op on $path lost " +
            s"${ManagedTable.MaxCommitAttempts} optimistic-commit races", e)
        case Left(_) => run(lastManifest(), lost + 1)
      }
    ManagedTable.currentOp.withValue(op)(run(first, 0))
  }
}

object ManagedTable {
  /** Ceiling on the pruned file list collected to the driver by
    * [[ManagedTable.readWhere]]'s stats skipping: when more than this
    * many files survive the stats filter, pruning is skipped for the
    * entry and the scan reads all of the entry's resolved files. At
    * ~150 bytes/path this bounds the list at ~40 MB; a selection keeping
    * more files than this prunes too little to pay for shipping the
    * paths through the driver. Overridable per session with
    * `graft.prune.maxFiles`. Measured: see PLANS.md (stats-prune cap). */
  val MaxPruneFiles = 262144

  /** Touched-value count above which pruned DML degenerates to a full
    * rewrite anyway (the touched-value list is driver-side metadata, so
    * bound it). */
  val MaxPrunedPartitions = 4096

  private[table] def maxPruneFiles(spark: SparkSession): Int =
    spark.conf.getOption("graft.prune.maxFiles").map(_.toInt)
      .getOrElse(MaxPruneFiles)

  /** The `pcol=value` dir name Spark's partitioned writer gives each of
    * `values` (of type `dt`): the value cast to a string in the session
    * time zone and escaped by `getPartitionPathString`, exactly as
    * `BaseDynamicPartitionDataWriter` names its dirs — a null or empty
    * value names the default partition. Evaluated in process: no job. */
  private[table] def partitionDirNames(spark: SparkSession, pcol: String,
                                       dt: DataType, values: Seq[Any]): Set[String] = {
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    values.map { v =>
      val s = Cast(Literal.create(v, dt), StringType, tz).eval()
      ExternalCatalogUtils.getPartitionPathString(pcol, Option(s).map(_.toString).orNull)
    }.toSet
  }

  private[table] case class Entry(dir: String, base: Option[String])
  private[table] case class Manifest(version: Long, timestamp: Long,
                                     entries: Seq[Entry],
                                     dvs: Seq[String] = Nil,
                                     renames: Seq[(String, String)] = Nil,
                                     txn: Map[String, Long] = Map.empty,
                                     op: String = "")

  /** One delta-encoded commit as written to disk: the ACTIONS against
    * the parent snapshot (version-1). `renames` is Some only when the
    * commit SET the mapping (None inherits); `txn` is this commit's
    * markers only (the fold keeps the materialized map cumulative). */
  private[table] case class DeltaRecord(version: Long, timestamp: Long,
                                        add: Seq[Entry], remove: Seq[Entry],
                                        dvAdd: Seq[String],
                                        dvRemove: Seq[String],
                                        renames: Option[Seq[(String, String)]],
                                        txn: Map[String, Long], op: String)

  /** The table properties kept in `_graft_log/_properties.json`. */
  private[table] case class TableProps(schemaEnforced: Boolean = false,
                                       checks: Map[String, String] = Map.empty,
                                       bucket: Option[BucketSpec] = None)

  /** Live DV sidecar dirs allowed per snapshot before a vectorized DML
    * op merges the set into one ([[compactedDvs]]). 32 keeps read-side
    * sidecar listing trivial while amortizing the merge to ~3% of DML
    * ops. Overridable per session with `graft.table.dvCompactThreshold`
    * (specs use a small value to exercise the merge cheaply). */
  val DefaultDvCompactThreshold = 32

  private[table] def dvCompactThreshold(spark: SparkSession): Int =
    math.max(1, spark.conf.getOption("graft.table.dvCompactThreshold")
      .map(_.toInt).getOrElse(DefaultDvCompactThreshold))

  /** Fault-injection seam for the chain-walk specs: called with the
    * parent version about to be read during a delta-chain walk. Lets a
    * spec run a REAL vacuum inside the exact repair-then-reap window the
    * walk can race with (no sleep-based scheduling luck). No-op in
    * production — one volatile read per chain step. */
  private[table] val chainWalkHook =
    new java.util.concurrent.atomic.AtomicReference[Long => Unit](_ => ())

  // ------------------------------------------------ resolved data dirs
  // See "Read cost model" in the class doc.

  /** What a data dir holds, as far as a read needs it: its qualified
    * path, its data files (one [[FsUtils.listDataFiles]] listing) and the
    * footer of the first one, read in process — the file Spark's parquet
    * inference reads with `mergeSchema` off (None when the dir holds no
    * data file). */
  private[table] final case class DirFacts(root: Path, files: Seq[FileStatus],
                                           footer: Option[ParquetMetadata])

  /** Data files [[resolve]] keeps over all dirs, least recently used dirs
    * dropped first (a dir counts as at least one file). */
  private[table] val MaxResolvedFiles = 1 << 15

  /** Resolved dirs by qualified path, process-wide. A dir's facts never go
    * stale: the engine writes each data dir once, under a fresh
    * `d<v>-<uuid8>` name, and never modifies it, so no session, table or
    * head scopes them. Guarded by its own lock; `cachedFiles` is the sum
    * of the kept dirs' weights. */
  private val resolved = new java.util.LinkedHashMap[Path, DirFacts](16, 0.75f, true)
  private var cachedFiles = 0L

  private def weight(f: DirFacts): Int = math.max(1, f.files.size)

  private def qualified(spark: SparkSession, dir: String): Path = {
    val p = new Path(dir)
    p.getFileSystem(FsUtils.hadoopConf(spark)).makeQualified(p)
  }

  /** `dir`'s facts: kept ones, or listed and read now and kept. */
  private[table] def resolve(spark: SparkSession, dir: String): DirFacts = {
    val root = qualified(spark, dir)
    resolved.synchronized(Option(resolved.get(root))).getOrElse {
      val files = FsUtils.listDataFiles(spark, root.toString)
      val conf = spark.sessionState.newHadoopConf()
      keep(DirFacts(root, files, files.headOption.map(f => ParquetFooterReader
        .readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS))))
    }
  }

  /** Keep `facts`, dropping the least recently used dirs while more than
    * [[MaxResolvedFiles]] files are kept (never the newest). */
  private[table] def keep(facts: DirFacts): DirFacts = resolved.synchronized {
    Option(resolved.put(facts.root, facts)).foreach(old => cachedFiles -= weight(old))
    cachedFiles += weight(facts)
    val eldest = resolved.values.iterator
    while (cachedFiles > MaxResolvedFiles && resolved.size > 1) {
      cachedFiles -= weight(eldest.next())
      eldest.remove()
    }
    facts
  }

  /** Spark's partition discovery, `PartitioningUtils.parsePartitions`
    * (package-private; the overload `InMemoryFileIndex` calls, with the
    * time zone by id). */
  private val parsePartitions = PartitioningUtils.getClass.getMethods.find(m =>
    m.getName == "parsePartitions" && m.getParameterTypes()(6) == classOf[String]).get

  /** One entry as a scan under one session's conf: its dir, data and
    * partition schemas and its files by partition. */
  private final case class DirScan(root: Path, dataSchema: StructType,
                                          partitionSchema: StructType,
                                          parts: Seq[PartitionDirectory]) {
    def schema: StructType = StructType(dataSchema ++ partitionSchema)
  }

  /** `s` with every field, element and value nullable: Spark's own
    * `asNullable` (package-private), which `DataSource` applies to a file
    * relation's data schema. */
  private def nullable(s: StructType): StructType =
    classOf[StructType].getMethod("asNullable").invoke(s).asInstanceOf[StructType]

  /** One snapshot layout's file set: its entries' files by partition,
    * each narrowed, on a pruned read, to the files kept. Partition filters
    * prune the partitions here, as `PartitioningAwareFileIndex` does. A
    * case class, so two reads of one head plan equal relations (cache
    * lookups match) under fresh attribute ids. */
  private final case class SnapshotIndex(rootPaths: Seq[Path], partitionSchema: StructType,
                                         parts: Seq[PartitionDirectory]) extends FileIndex {
    def listFiles(partitionFilters: Seq[Expression],
                  dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val names = partitionSchema.fieldNames
      partitionFilters.filter(_.references.forall(a => names.contains(a.name)))
        .reduceOption(And).fold(parts) { cond =>
          val keep = Predicate.createInterpreted(cond.transform {
            case a: AttributeReference =>
              val i = names.indexOf(a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
          parts.filter(p => keep.eval(p.values))
        }
    }
    def inputFiles: Array[String] = parts.flatMap(_.files).map(_.getPath.toUri.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = parts.flatMap(_.files).map(_.getLen).sum
  }

  /** Commits between FULL (self-contained) manifests in the log: every
    * Nth version is written full, the rest as O(changed dirs) action
    * deltas, so head resolution replays at most N-1 deltas onto the
    * nearest checkpoint while an append-heavy table's cumulative commit
    * metadata stays O(dirs·versions/N) instead of O(dirs·versions)
    * (round-10 verdict #1). Overridable per session with
    * `graft.table.checkpointInterval`; 1 = every commit full (the
    * pre-round-11 behavior). */
  val DefaultCheckpointInterval = 16

  private[table] def checkpointInterval(spark: SparkSession): Int =
    math.max(1, spark.conf.getOption("graft.table.checkpointInterval")
      .map(_.toInt).getOrElse(DefaultCheckpointInterval))

  /** Operation name the in-flight commit stamps into its manifest
    * (`DESCRIBE HISTORY`'s operation column). Thread-local so concurrent
    * writers on one JVM each record their own op. */
  private val currentOp = new scala.util.DynamicVariable[String]("commit")

  /** Tombstone prefix for dropped columns: a drop is a rename to a name
    * reads always exclude, so old data dirs keep their files untouched
    * and Catalyst's column pruning keeps the dropped bytes unread. */
  private[table] val DroppedPrefix = "__graft_dropped_"

  /** Hidden hive-partition column carrying the bucket transform's
    * `pmod(hash(key), n)` value ([[ManagedTable.setBucket]]). Reserved:
    * batches may not use the name; public reads never surface it. */
  val BucketCol = "__gbucket"

  /** The bucket transform's layout contract: key column, bucket count and
    * the CANONICAL key type every side hashes at. */
  case class BucketSpec(column: String, n: Int,
                        keyType: org.apache.spark.sql.types.DataType) {
    /** The single bucket-id expression all sides share — write layout,
      * DML touched-bucket discovery, compaction clustering. (Lookup
      * literals evaluate the same cast+hash constant-side in
      * [[DataSkipping.bucketOfLiteral]].) */
    def idOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(hash(key.cast(keyType)), lit(n))
  }

  /** Commit attempts an operation makes before giving up under sustained
    * contention — read-modify-write ops and blind commits (append, write,
    * restore) alike: ten lost races in a row. */
  val MaxCommitAttempts = 10

  /** An optimistic commit lost its race: the snapshot the operation was
    * computed against is no longer the table's head. Public ops catch and
    * re-run internally up to [[MaxCommitAttempts]] times; seeing this
    * escape means sustained multi-writer contention on one table. */
  final class ConcurrentWriteException(path: String, base: Option[Long])
    extends RuntimeException(
      s"concurrent update on $path: snapshot ${base.fold("<empty>")(v => s"v$v")} is no longer current")

  def apply(spark: SparkSession, path: String): ManagedTable =
    new ManagedTable(spark, path)
}
