package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Snapshot-versioned table on plain parquet — the table-format half of
  * the reference's "Consider Iceberg/Delta for transactional upserts and
  * time travel" roadmap item (reference `docs/design.md:168`; the upsert
  * half is [[graft.operators.Merge]] / [[graft.streaming.CdcView]]).
  *
  * Layout:
  * {{{
  *   table/
  *     data/c{N}/{partCol}={v}/part-*.parquet   immutable commit dirs
  *     _manifests/v{N}/                          checkpoint: complete
  *                                               file list+stats parquet
  *       — or, for delta versions —
  *     _manifests/v{N}/part-*.parquet            ONLY this commit's adds
  *     _manifests/v{N}/_delta_meta               partition tombstones
  *     _CURRENT                                  "vN", temp+rename publish
  *     _vacuum_floor                             "vN", temp+rename publish
  * }}}
  *
  * Manifests form a METADATA LOG (the Delta-Lake checkpoint/log shape):
  * most commits write only their own entries plus partition tombstones
  * (O(commit) metadata), and every [[CheckpointEvery]]-th commit
  * materializes the complete set plan-side into a fresh checkpoint, so
  * chains stay bounded and total metadata is proportional to data
  * written, not versions × files. [[manifestDF]] resolves a version by
  * walking to the nearest checkpoint and composing checkpoint + deltas:
  * on the driver when the segments total at most 2 MB (no Spark job),
  * plan-side above that — either way every consumer (pruning, diffs,
  * history, streams) sees one (path, partition, rows, stats) relation.
  *
  * Every scan of table data reads a [[PinnedFileIndex]], and a read
  * decides its files in ONE place: [[readAsOf]] resolves
  * [[manifestDF]] once and the index prunes that frame by whatever
  * filters the scan carries ([[pruneFilter]]) when Spark plans it —
  * [[readPartition]], [[readRange]], [[readIn]], `readAsOf(v).where(…)`
  * and the SQL catalog's scan are all filters over that one relation.
  * Write-side probes ([[mergeRows]], [[deleteRows]], [[commitCompact]],
  * [[compactDeletes]]) and [[readChanges]] [[pin]] their base
  * version's frame as often as they probe it — one targeted collect of
  * the data files a prune keeps plus every merge-on-read delete file —
  * and [[scanPin]] scans the pin with the deletes applied.
  *
  * The contract that makes readers safe during rewrites:
  *
  *  - data files are IMMUTABLE — a commit writes only new files under
  *    its own `data/c{N}` dir and never touches or deletes existing
  *    ones (deletion is a separate, explicitly-retention-bounded
  *    [[vacuum]]);
  *  - a manifest names the COMPLETE file set of its version, so a read
  *    is: resolve one manifest, then scan exactly those files — a
  *    reader that resolved version N keeps returning version N's rows
  *    bit-for-bit while and after version N+1 replaces a partition,
  *    because nothing it references ever changes;
  *  - `_CURRENT` is published LAST via write-temp + rename (the
  *    [[IncrementalAgg]] pointer discipline, same crash-window
  *    self-heal): concurrent readers see the old complete version or
  *    the new complete version, never a mix — the half-swapped-
  *    partition window of purge+rewrite schemes closes.
  *
  * Manifests also carry per-file stats (row count, min/max of declared
  * columns, captured at commit time from the just-written files), so
  * planning can skip whole files on a range predicate WITHOUT opening
  * parquet footers — at 100 TB the footer stampede of a 4000-file
  * listing is itself a cost, and manifest pruning turns "which files
  * can match?" into one metadata read ([[readRange]]).
  *
  * Scale shape: a commit's cost is the rewritten partition plus an
  * O(files) metadata job, and the carried-forward manifest flows
  * manifest→manifest INSIDE a DataFrame plan. On the plan-side backend
  * pruning, version diffs, and history aggregates likewise run inside
  * the plan over [[manifestDF]], so the driver materializes only pins
  * (pruned file lists), per-version summaries, and the commit's own
  * fresh entries, never the full file history (ManifestScaleSpec pins
  * this on a 100k-file manifest). The driver's share of a scan is the
  * pin itself: a pinned scan reads a [[PinnedFileIndex]] built from
  * each file's manifest-recorded size and mtime, so planning it lists
  * no directory, stats no file and starts no listing job.
  */
object Snapshots {

  /** min/max of one column in one file, stringified; `typ` picks the
    * comparison domain back (numeric vs lexicographic). Null lo/hi =
    * all-null column in that file = never prunable. */
  case class StatRange(typ: String, lo: String, hi: String)

  /** One file of one version: path relative to the table root, the
    * partition value it belongs to, rows, declared-column stats, and
    * the PARTITION SPEC (the partCol name) the file was committed
    * under — None for files written before spec tracking. The spec is
    * what makes partition-spec EVOLUTION transactional: two eras of one
    * table can carry colliding partition VALUES under different specs,
    * and a whole-partition tombstone only reaches files of its own
    * era (see [[manifestDF]]).
    *
    * `kind` distinguishes DATA files (None) from merge-on-read DELETE
    * files (`Some("delete:<keyCol>")` — an equality-delete key set,
    * see [[deleteRowsMoR]]); `seq` is the commit version that added
    * the file (None for pre-MoR manifests, ordered as 0). A delete
    * file suppresses matching rows only in data files with a LOWER
    * seq — the Iceberg-v2 sequence rule that makes re-inserting a
    * deleted key after the delete work, and makes folded rewrites
    * (whose files carry a newer seq) immune to the deletes they
    * already applied.
    *
    * `bytes` and `mtime` are the file's length and modification time,
    * taken at commit from the `FileStatus` the commit already holds
    * (Iceberg's `file_size_in_bytes`): a pinned scan builds its file
    * index from them instead of statting the file. None for entries of
    * manifests written before they were recorded; a scan stats those. */
  case class FileEntry(path: String, partition: String, rows: Long,
      stats: Map[String, StatRange], spec: Option[String] = None,
      kind: Option[String] = None, seq: Option[Int] = None,
      bytes: Option[Long] = None, mtime: Option[Long] = None)

  /** One encoder for every driver-side `FileEntry` frame: deriving it
    * through `spark.implicits` reflects over the case class on each
    * call, and the driver-side resolution builds one frame per read. */
  private lazy val FileEntryEncoder =
    org.apache.spark.sql.Encoders.product[FileEntry]

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- version pointer (IncrementalAgg discipline) --------------------

  def currentVersion(spark: SparkSession, table: String): Int = {
    val f = fs(spark, table)
    val cur = new Path(table, "_CURRENT")
    val tmp = new Path(table, "_CURRENT.tmp")
    // legacy crash heal: pre-round-11 publishes could die between
    // delete(cur) and rename(tmp, cur). Promote the tmp ONLY when it
    // parses — an EMPTY or half-written tmp is a LIVE legacy writer
    // mid-publish, and promoting it hands every reader a corrupt
    // pointer (the round-11 concurrent-audit race: NumberFormat-
    // Exception on "" under 3-way parallel appends).
    if (!f.exists(cur) && f.exists(tmp) &&
        scala.util.Try(
          readSmallFile(f, tmp).trim.stripPrefix("v").toInt).isSuccess)
      healTmp(f, tmp, cur)
    if (!f.exists(cur)) 0
    else readSmallFile(f, cur).trim.stripPrefix("v").toInt
  }

  /** Promote a legacy shared-name tmp onto its pointer (the reader
    * crash heal). Concurrent readers race to the same rename; the
    * loser finds the tmp already moved — the healed state, not an
    * error. */
  private def healTmp(f: FileSystem, tmp: Path, dst: Path): Unit =
    try f.rename(tmp, dst)
    catch { case _: java.io.FileNotFoundException => () }

  /** Atomic pointer flip. The old delete(cur)→rename(tmp, cur) dance
    * had two windows a concurrent reader could fall into (missing
    * pointer; half-written SHARED tmp promoted by the reader heal).
    * The tmp is writer-unique so no publisher can truncate another's
    * in-flight file, and the flip is [[atomicReplace]] — readers
    * always observe a complete pointer. FileContext bypasses
    * ChecksumFileSystem, so any legacy `._CURRENT.crc` sidecar is
    * dropped first (stale crc over new bytes fails every subsequent
    * read). */
  private[io] def publish(spark: SparkSession, table: String, v: Int): Unit = {
    val f = fs(spark, table)
    val cur = f.makeQualified(new Path(table, "_CURRENT"))
    val tmp = f.makeQualified(new Path(table,
      s"_CURRENT.${java.util.UUID.randomUUID}.tmp"))
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      cur.toUri, spark.sparkContext.hadoopConfiguration)
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(s"v$v".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    f.delete(new Path(cur.getParent, "." + cur.getName + ".crc"), false)
    atomicReplace(fc, tmp, cur)
    sweepStaleTmps(f, new Path(table), cur.getName)
  }

  /** Rename `tmp` onto `dst` with NO window where `dst` is missing.
    * On HDFS/object stores FileContext.rename(OVERWRITE) is an atomic
    * server-side replace. On the LOCAL filesystem Hadoop's overwrite
    * rename is delete(dst)-then-rename — the round-12 snapshot SOAK
    * measured a reader inside that gap resolving currentVersion to 0
    * on a published table — so local paths take POSIX rename(2)
    * directly (Files.move ATOMIC_MOVE replaces atomically), the same
    * scheme dispatch [[reserve]] uses for its O_EXCL. */
  private[io] def atomicReplace(
      fc: org.apache.hadoop.fs.FileContext, tmp: Path, dst: Path): Unit = {
    val scheme = Option(dst.toUri.getScheme).getOrElse("file")
    if (scheme == "file")
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    else fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Best-effort reclaim of writer-unique `_CURRENT.<uuid>.tmp` files a
    * publisher that crashed between create and rename left behind —
    * without a sweep they accumulate forever (the heal only promotes
    * the legacy shared-name tmp). Age-gated well past any publish's
    * create→rename span so a LIVE writer's in-flight tmp is never
    * touched; every failure is swallowed (the publish already
    * succeeded). */
  private[io] def sweepStaleTmps(f: FileSystem, dir: Path,
      pointerName: String, maxAgeMs: Long = 15 * 60 * 1000L): Unit =
    try {
      val cutoff = System.currentTimeMillis() - maxAgeMs
      f.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith(pointerName + ".") &&
            n.endsWith(".tmp") && n != pointerName + ".tmp" &&
            st.getModificationTime < cutoff)
          try f.delete(st.getPath, false)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private def manifestDir(table: String, v: Int) = s"$table/_manifests/v$v"

  private def readSmallFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var r = in.read(chunk)
      while (r > 0) { buf.write(chunk, 0, r); r = in.read(chunk) }
      new String(buf.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  // ---- retention floor -------------------------------------------------

  private def floorPath(table: String) = new Path(table, "_vacuum_floor")

  /** Retention floor published by the most recent [[vacuum]]: versions
    * below it are VACUUMED — their data files may be reclaimed and
    * fresh resolutions fail — even while their manifest dirs linger
    * through vacuum's one-cycle grace period (which exists for
    * in-flight lazy plans, not new readers). */
  def retentionFloor(spark: SparkSession, table: String): Int = {
    val f = fs(spark, table)
    val p = floorPath(table)
    // crash-window self-heal (the _CURRENT discipline): a writer that
    // died between delete(old floor) and rename(tmp) left only the tmp —
    // without recovery the floor would silently REGRESS to 1 and graced
    // versions whose data files vacuum already reclaimed would resolve
    // again, failing readers at action time instead of with the clean
    // retention error ("floors never regress" broken)
    val tmp = new Path(table, "_vacuum_floor.tmp")
    if (!f.exists(p) && f.exists(tmp)) healTmp(f, tmp, p)
    if (!f.exists(p)) 1
    else readSmallFile(f, p).trim.stripPrefix("v").toInt
  }

  /** Floor publish, same discipline as [[publish]]: writer-unique tmp
    * + [[atomicReplace]]. The old shared-name tmp + delete + rename had
    * two soak-measured reader hazards: the missing-floor gap (floors
    * transiently regress to 1) and a racing publish's `create(tmp,
    * overwrite)` TRUNCATING the tmp while the reader heal promoted it —
    * retentionFloor then read an empty floor file and threw
    * NumberFormatException. The legacy heal in [[retentionFloor]]
    * remains for tables last written by the old code. */
  private def publishFloor(spark: SparkSession, table: String, v: Int)
      : Unit = {
    val f = fs(spark, table)
    val cur = f.makeQualified(floorPath(table))
    val tmp = f.makeQualified(new Path(table,
      s"_vacuum_floor.${java.util.UUID.randomUUID}.tmp"))
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      cur.toUri, spark.sparkContext.hadoopConfiguration)
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(s"v$v".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // FileContext writes no checksum sidecar; a stale crc from the old
    // f.create-based publishes would fail every later checksummed read
    f.delete(new Path(cur.getParent, "." + cur.getName + ".crc"), false)
    atomicReplace(fc, tmp, cur)
    sweepStaleTmps(f, new Path(table), cur.getName)
  }

  // ---- named refs (tags) ------------------------------------------------
  //
  // A `_refs/<name>` file beside the metadata log pins one version
  // under a human name — the reproducible-training handle ("the v the
  // model saw" as `train-2026-08`, not an integer in a notebook; the
  // Iceberg tag concept, reference `docs/design.md:168`'s "at scale"
  // clause). Same publish discipline as `_CURRENT` (write-temp +
  // rename, crash-window self-heal on read), and [[vacuum]] refuses to
  // reclaim below any tagged version: the retention floor CLAMPS to
  // the lowest tag, so a pinned training snapshot survives every
  // routine vacuum until its tag is deleted.

  private def refsDir(table: String) = new Path(table, "_refs")

  private def refPath(table: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*")
        && !name.endsWith(".tmp"),
      s"Snapshots: invalid ref name '$name' (letters/digits/._- only, " +
        "must not end with .tmp)")
    new Path(refsDir(table), name)
  }

  /** Pin version `v` under `name`. Tags are immutable: re-tagging the
    * same name is idempotent at the same version and refused at a
    * different one unless `replace = true` (an explicit retarget, the
    * audit-visible operation). Tagging a vacuumed version is refused —
    * a tag is a retention promise and must be made while the version
    * is still retained. */
  def tag(spark: SparkSession, table: String, name: String, v: Int,
      replace: Boolean = false): Unit = {
    val f = fs(spark, table)
    val cur = currentVersion(spark, table)
    require(v >= 1 && v <= cur,
      s"Snapshots.tag: version $v does not exist under $table")
    require(v >= retentionFloor(spark, table),
      s"Snapshots.tag: v$v of $table is below the retention floor " +
        "(vacuumed versions cannot be tagged)")
    val p = refPath(table, name)
    versionOfRefOpt(spark, table, name).foreach { existing =>
      if (existing == v) return // idempotent re-publish
      require(replace,
        s"Snapshots.tag: ref '$name' already pins v$existing of $table " +
          s"(pass replace=true to retarget to v$v)")
    }
    f.mkdirs(refsDir(table))
    // publishFloor discipline: a WRITER-UNIQUE tmp + atomicReplace. The
    // old shared-name `$name.tmp` + delete(p) + rename had a lost-ref
    // window on FIRST publish (and after deleteTag): a concurrent
    // reader's crash heal could rename our in-flight tmp into place,
    // then our delete(p) removed the correctly-published ref and the
    // re-read found nothing — tag threw while the ref transiently
    // vanished. A uuid tmp is invisible to the heal (which only
    // promotes the legacy shared name), and atomicReplace both creates
    // and replaces with no missing-dst window.
    val qp = f.makeQualified(p)
    val tmp = f.makeQualified(new Path(refsDir(table),
      s"$name.${java.util.UUID.randomUUID}.tmp"))
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      qp.toUri, spark.sparkContext.hadoopConfiguration)
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(s"v$v".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // drop any legacy checksum sidecar (the publish/publishFloor rule:
    // FileContext writes none; a stale crc fails later checksummed reads)
    f.delete(new Path(qp.getParent, "." + qp.getName + ".crc"), false)
    atomicReplace(fc, tmp, qp)
    sweepStaleTmps(f, refsDir(table), name)
  }

  private def versionOfRefOpt(spark: SparkSession, table: String,
      name: String): Option[Int] = {
    val f = fs(spark, table)
    val p = refPath(table, name)
    // crash-window self-heal (the _CURRENT discipline)
    val tmp = new Path(refsDir(table), s"$name.tmp")
    if (!f.exists(p) && f.exists(tmp)) healTmp(f, tmp, p)
    if (!f.exists(p)) None
    else Some(readSmallFile(f, p).trim.stripPrefix("v").toInt)
  }

  /** The version a ref pins. */
  def versionOfRef(spark: SparkSession, table: String, name: String): Int =
    versionOfRefOpt(spark, table, name).getOrElse(
      throw new IllegalArgumentException(
        s"Snapshots.versionOfRef: no ref '$name' under $table"))

  /** Read the snapshot a ref pins — exactly [[readAsOf]] of its
    * version. */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame =
    readAsOf(spark, table, versionOfRef(spark, table, name))

  /** Drop a ref; its version becomes reclaimable by the NEXT vacuum.
    * Returns whether the ref existed. */
  def deleteTag(spark: SparkSession, table: String, name: String): Boolean =
    fs(spark, table).delete(refPath(table, name), false)

  /** All published refs, (name, version), name-sorted. Metadata-only
    * (one dir listing — O(refs)). */
  def listRefs(spark: SparkSession, table: String): Seq[(String, Int)] = {
    val f = fs(spark, table)
    val dir = refsDir(table)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filterNot(_.endsWith(".tmp"))
      .flatMap(n => versionOfRefOpt(spark, table, n).map(n -> _))
      .sortBy(_._1)
  }

  // ---- schema tracking (add-only evolution) ----------------------------
  //
  // Every version records the table schema it was committed under as a
  // `_schema` JSON file in its manifest dir (underscore name: invisible
  // to the parquet reader sharing the dir). Append/overwrite commits
  // MERGE their frame's schema into the previous version's — new
  // columns append (nullable: files written before the change simply
  // lack them), common columns must keep their exact type (a type
  // change needs a rewrite, not an evolution — the Iceberg add-only
  // contract). Reads resolve a version's file list AND its schema, and
  // scan with the schema EXPLICIT: Spark's parquet reader null-fills
  // columns a file lacks, so a 100 TB history never rewrites for a new
  // column, never pays a mergeSchema footer stampede, and time travel
  // to a pre-change version returns exactly that version's columns.

  private def schemaPath(table: String, v: Int) =
    new Path(manifestDir(table, v), "_schema")

  // ---- partition-spec tracking (spec evolution) -----------------------
  //
  // Every version records the PARTITION SPEC (the partCol) it was
  // committed under as a `_partspec` file beside `_schema` — the
  // Iceberg spec-evolution sibling of schema tracking. A growing table
  // can re-partition (date → type) WITHOUT a rewrite: new commits
  // write the new spec, their files carry it in the manifest, and
  // resolution unions the eras while whole-partition tombstones stay
  // scoped to their own era (colliding partition VALUES across specs
  // cannot cross-delete — see [[manifestDF]]). Reads prune either era
  // through the same per-file stats ([[pruneFilter]]), so the new layout
  // benefits new data immediately and old data is never rewritten.
  //
  // COMPOSITE specs (date → (date, type)) are a derived column: commit
  // with partCol = a `concat(date, '/', type)` column — the composite
  // string IS the spec ("date_type"), its values partition exactly,
  // tombstones scope to it, and per-component pruning rides statsCols
  // on the underlying columns (a conjunction of filters over [[read]]),
  // which is how component predicates prune files in ANY era.

  private def partSpecPath(table: String, v: Int) =
    new Path(manifestDir(table, v), "_partspec")

  private[io] def writePartSpec(spark: SparkSession, table: String, v: Int,
      partCol: String): Unit = {
    val f = fs(spark, table)
    f.mkdirs(new Path(manifestDir(table, v)))
    val out = f.create(partSpecPath(table, v), true)
    try out.write(partCol.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The partition spec (partCol) version `v` was committed under;
    * None for versions written before spec tracking. */
  def partSpecOf(spark: SparkSession, table: String, v: Int)
      : Option[String] = {
    val f = fs(spark, table)
    val p = partSpecPath(table, v)
    try {
      if (!f.exists(p)) None
      else Some(readSmallFile(f, p).trim).filter(_.nonEmpty)
    } catch {
      // graced manifest dirs can be reclaimed between probe and open
      // (the schemaOf discipline)
      case _: java.io.FileNotFoundException => None
    }
  }

  private[io] def writeSchema(spark: SparkSession, table: String, v: Int,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val f = fs(spark, table)
    f.mkdirs(new Path(manifestDir(table, v)))
    val out = f.create(schemaPath(table, v), true)
    try out.write(schema.json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The schema version `v` was committed under; None only for tables
    * written before schema tracking (those read as before — schema
    * from the scanned files themselves). */
  def schemaOf(spark: SparkSession, table: String, v: Int)
      : Option[StructType] = {
    val f = fs(spark, table)
    val p = schemaPath(table, v)
    try {
      if (!f.exists(p)) None
      else Some(org.apache.spark.sql.types.DataType
        .fromJson(readSmallFile(f, p))
        .asInstanceOf[StructType])
    } catch {
      // a graced manifest dir can be reclaimed between the exists
      // probe and the open (vacuum churn); fall back to the legacy
      // schema-from-files read — the same in-flight-plan failure mode
      // the grace period already bounds, not a new one
      case _: java.io.FileNotFoundException => None
    }
  }

  /** prev ++ columns new to `next`, add-only: a common column changing
    * type is refused (fail-fast — silently casting would corrupt the
    * old files' reads). All fields go nullable: an evolved read must
    * null-fill added columns in old files and dropped-from-the-frame
    * columns in new ones. */
  private def evolveSchema(prev: StructType, next: StructType,
      op: String): StructType = {
    val prevByName = prev.fields.map(f => f.name.toLowerCase -> f).toMap
    next.fields.foreach { f =>
      prevByName.get(f.name.toLowerCase).foreach { p =>
        require(p.dataType == f.dataType,
          s"Snapshots.$op: schema evolution is add-only — column " +
            s"'${f.name}' cannot change ${p.dataType} -> ${f.dataType} " +
            "(a type change needs a table rewrite)")
      }
    }
    val added = next.fields
      .filterNot(f => prevByName.contains(f.name.toLowerCase))
    org.apache.spark.sql.types.StructType(
      (prev.fields ++ added).map(_.copy(nullable = true)))
  }

  /** The schema an evolving commit on top of `prev` publishes. Legacy
    * adoption (a table written before schema tracking) resolves the
    * CARRIED files' merged schema and evolves it against the frame's —
    * adopting only `df.schema` would silently drop carried-file-only
    * columns from every evolved read, and a type conflict with carried
    * files would surface at scan time instead of refusing the commit.
    * The mergeSchema footer pass is paid exactly once per pre-tracking
    * table (every later commit finds a recorded `_schema`). */
  private def commitSchema(spark: SparkSession, table: String, prev: Int,
      df: DataFrame, op: String): StructType =
    schemaOf(spark, table, prev) match {
      case Some(s) => evolveSchema(s, df.schema, op)
      case None =>
        // data files only: a merge-on-read delete file's key-set
        // schema must never leak into the table schema (unreachable
        // in practice — deleteRowsMoR requires schema tracking — but
        // the filter keeps the invariant local)
        val carried = inferSchema(spark, table,
          pin(manifestDF(spark, table, prev), lit(true)).data, merge = true)
        evolveSchema(carried, df.schema, op)
    }

  /** [[commitSchema]] validated BEFORE any data write: an add-only
    * violation must refuse the commit with nothing on disk and the
    * version slot released, not strand a half-written version. */
  private def validatedSchema(spark: SparkSession, table: String,
      prev: Int, df: DataFrame, op: String, v: Int): StructType =
    try commitSchema(spark, table, prev, df, op)
    catch {
      case e: Throwable => breakReservation(spark, table, v); throw e
    }

  // ---- delta manifests + checkpoints (metadata log) -------------------
  //
  // A version's manifest dir is either a CHECKPOINT (parquet holding the
  // complete file set — the original layout, so pre-existing tables read
  // unchanged) or a DELTA: parquet holding only the commit's own fresh
  // entries plus a `_delta_meta` file naming the partitions the commit
  // replaced (tombstones). Resolution walks back to the nearest
  // checkpoint and unions checkpoint + deltas, dropping rows whose
  // partition was replaced by a LATER delta — the Delta-Lake
  // checkpoint/log shape (public docs), with partition-level tombstones
  // because replacement here is always whole-partition. Every
  // [[CheckpointEvery]]-th commit materializes a fresh checkpoint, so a
  // chain is bounded and per-commit metadata cost is O(commit) amortized
  // instead of O(table files): at 100 TB with years of commits, the
  // metadata under `_manifests/` stays proportional to data written, not
  // versions × files.

  private val CheckpointEvery = 8

  /** Tombstones + whether the version wrote any add segment, plus the
    * partition spec the removing commit ran under (None for metas
    * written before spec tracking). Underscore name keeps the file
    * invisible to the parquet reader sharing the dir. */
  private[io] case class DeltaMeta(removes: Seq[String], hasAdds: Boolean,
      spec: Option[String] = None)

  private def deltaMetaPath(table: String, v: Int) =
    new Path(manifestDir(table, v), "_delta_meta")

  /** Pointer to an immutable re-checkpoint written by vacuum's
    * retention-floor compaction: its content names the `_ckpt_<id>`
    * subdir holding the materialized complete file set. Presence
    * OVERRIDES `_delta_meta` — the version resolves as a checkpoint.
    * The superseded delta part files and meta stay in place untouched
    * (an in-flight reader's plan holds their exact file names; deleting
    * or renaming them mid-scan is the FILE_NOT_EXIST race the scale
    * stress spec caught) and fall out only when the whole version dir
    * ages below a later retention floor. Underscore names keep both the
    * pointer and the subdir invisible to a parquet scan of the parent
    * dir, so readers planned BEFORE the compaction keep reading the old
    * layout unperturbed. */
  private def ckptPtrPath(table: String, v: Int) =
    new Path(manifestDir(table, v), "_ckpt_ptr")

  private def readCkptPtr(spark: SparkSession, table: String, v: Int)
      : Option[String] = {
    val f = fs(spark, table)
    val p = ckptPtrPath(table, v)
    if (!f.exists(p)) None
    else Some(readSmallFile(f, p).trim)
  }

  /** Where this version's checkpoint parquet lives: the re-checkpoint
    * subdir when a `_ckpt_ptr` has been published, else the version dir
    * itself (the original layout). */
  private def checkpointParquetDir(spark: SparkSession, table: String,
      v: Int): String =
    readCkptPtr(spark, table, v) match {
      case Some(id) => new Path(manifestDir(table, v), s"_ckpt_$id").toString
      case None => manifestDir(table, v)
    }

  private[io] def readDeltaMeta(spark: SparkSession, table: String, v: Int)
      : Option[DeltaMeta] = {
    val f = fs(spark, table)
    val p = deltaMetaPath(table, v)
    if (readCkptPtr(spark, table, v).isDefined) None
    else if (!f.exists(p)) None
    else {
      val txt = readSmallFile(f, p)
      val kv = txt.split('\n').filter(_.contains('='))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
      val removes = kv.getOrElse("removes", "") match {
        case "" => Nil
        case s => s.split(',').toSeq
          .map(java.net.URLDecoder.decode(_, "UTF-8"))
      }
      Some(DeltaMeta(removes, kv.get("adds").contains("true"),
        kv.get("spec").filter(_.nonEmpty)
          .map(java.net.URLDecoder.decode(_, "UTF-8"))))
    }
  }

  /** Write one delta version: the commit's own entries (tiny) plus the
    * tombstone meta — never the carried file set. */
  private[io] def writeDelta(spark: SparkSession, table: String, v: Int,
      adds: Seq[FileEntry], removes: Seq[String],
      spec: Option[String] = None): Unit = {
    val f = fs(spark, table)
    if (adds.nonEmpty)
      writeManifestEntries(spark, manifestDir(table, v), adds)
    else f.mkdirs(new Path(manifestDir(table, v)))
    val out = f.create(deltaMetaPath(table, v), true)
    try out.write(
      (s"removes=${removes.map(java.net.URLEncoder.encode(_, "UTF-8"))
        .mkString(",")}\n" +
        s"adds=${adds.nonEmpty}\n" +
        s"spec=${spec.map(java.net.URLEncoder.encode(_, "UTF-8"))
          .getOrElse("")}\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** One walk down from `v` to the nearest checkpoint, reading each
    * version's `_delta_meta` (and its ckpt-ptr override) EXACTLY once:
    * returns (base checkpoint version, chain metas ascending). Both
    * [[commitManifest]] and [[manifestDF]] consume this walk, so one
    * resolution reads each meta once, not O(chain²) times (on an
    * object store each read is a network request). The base is DERIVED,
    * never stored, so re-checkpointing a version in place (vacuum's
    * retention-floor compaction) transparently re-bases every later
    * delta; chain length is bounded by [[CheckpointEvery]]. */
  private[io] def chainOf(spark: SparkSession, table: String, v: Int)
      : (Int, List[(Int, DeltaMeta)]) = {
    var w = v
    var metas = List.empty[(Int, DeltaMeta)]
    var m = if (w >= 1) readDeltaMeta(spark, table, w) else None
    while (w >= 1 && m.isDefined) {
      metas = (w -> m.get) :: metas
      w -= 1
      m = if (w >= 1) readDeltaMeta(spark, table, w) else None
    }
    require(w >= 1 &&
      fs(spark, table).exists(new Path(manifestDir(table, w))),
      s"Snapshots: no checkpoint at or below v$v of $table " +
        "(base manifest vacuumed)")
    (w, metas)
  }

  /** Does a tombstone from a commit under `rspec` reach a manifest row?
    * Only within the same ERA: both specs known and different → the row
    * is another era's file and survives. Either side unknown (legacy
    * data or legacy meta) → the pre-evolution behavior: value match
    * alone removes. */
  private def specCompat(rowSpec: Column, rspec: Column): Column =
    rowSpec.isNull || rspec.isNull || rowSpec === rspec

  /** Route one commit's manifest: checkpoint (complete set, plan-side
    * carry) when the chain would exceed [[CheckpointEvery]], else a
    * delta of just the commit's own entries + tombstones. `spec` is the
    * commit's partition spec — tombstones it writes reach only files of
    * the same era. */
  private def commitManifest(spark: SparkSession, table: String, v: Int,
      prev: Int, adds: Seq[FileEntry], removes: Seq[String],
      spec: Option[String] = None): Unit = {
    import spark.implicits._
    if (prev == 0) writeManifest(spark, table, v, adds)
    else if (v - chainOf(spark, table, prev)._1 >= CheckpointEvery) {
      val carried =
        if (removes.isEmpty) manifestDF(spark, table, prev)
        else manifestDF(spark, table, prev)
          .where(!(col("partition").isin(removes: _*) &&
            specCompat(col("spec"),
              lit(spec.orNull).cast("string"))))
      writeManifestDF(spark,
        carried.unionByName(spark.createDataset(adds)(FileEntryEncoder)
          .toDF()),
        table, v)
    } else writeDelta(spark, table, v, adds, removes, spec)
  }

  /** Another writer holds the next version slot; re-read the current
    * version and retry AFTER it publishes (retrying before would base
    * the new manifest on a stale file set — the lost-update anomaly the
    * reservation exists to prevent). */
  final class ConcurrentCommitException(table: String, v: Int)
    extends RuntimeException(
      s"version v$v of $table is reserved by another writer; " +
        "retry after it publishes")

  /** Optimistic concurrency: a commit must RESERVE currentVersion+1
    * before writing anything — exactly one writer per version slot, and
    * only the slot directly above the published version can ever be
    * reserved, so a racing writer can never base its manifest on a
    * version that is about to be superseded.
    *
    * The test-and-set must be ATOMIC per filesystem. On HDFS/object
    * stores `create(path, overwrite=false)` is; on the LOCAL filesystem
    * it is exists-then-create — two threads could both pass the exists
    * probe, both "win" the slot, and both write the same commit dir,
    * where one job committer's cleanup deletes the other's _temporary
    * tree mid-write (measured: TASK_WRITE_FAILED under a 3-way
    * concurrent audit append). Local paths therefore use
    * `java.io.File.createNewFile` — POSIX O_CREAT|O_EXCL, the atomic
    * primitive. */
  private[graft] def reserve(spark: SparkSession, table: String, v: Int)
      : Unit = {
    val f = fs(spark, table)
    val marker = new Path(table, s"_commits/v$v.reserved")
    f.mkdirs(marker.getParent)
    val scheme = Option(marker.toUri.getScheme)
      .getOrElse(Option(f.getUri).map(_.getScheme).getOrElse("file"))
    if (scheme == "file") {
      val local = new java.io.File(
        new Path(f.makeQualified(marker).toUri.getPath).toString)
      val won =
        try local.createNewFile()
        catch { case _: java.io.IOException => false }
      if (!won) throw new ConcurrentCommitException(table, v)
    } else {
      try f.create(marker, false).close()
      catch {
        case _: java.io.IOException =>
          throw new ConcurrentCommitException(table, v)
      }
    }
  }

  /** Operator override for a reservation orphaned by a crashed writer
    * (the writer is verifiably dead and never published). Until broken,
    * an orphan blocks all commits — fail-stop beats silent lost
    * updates. */
  def breakReservation(spark: SparkSession, table: String, v: Int): Boolean =
    fs(spark, table).delete(new Path(table, s"_commits/v$v.reserved"), false)

  /** The manifest as a LAZY relation — the planning surface every
    * heavy path below builds on: pruning, version diffs, and history
    * aggregates run inside the DataFrame plan, and only their
    * (pruned/diffed/aggregated) RESULTS are collected. At 100 TB with
    * years of commits the manifest union is O(total files); holding it
    * as a plan instead of a driver Seq is what keeps driver memory
    * bounded by the answer, not the history (the Iceberg
    * distributed-manifest-read shape). */
  def manifestDF(spark: SparkSession, table: String, v: Int): DataFrame = {
    require(v >= 1 && v <= currentVersion(spark, table),
      s"Snapshots: version $v does not exist under $table")
    // below-floor versions are vacuumed even while their manifest dirs
    // linger through the one-cycle grace period (see [[vacuum]]) —
    // fresh resolutions must fail with the clean retention error, not
    // scan a version whose data files are already reclaimed
    val floor = retentionFloor(spark, table)
    require(v >= floor,
      s"Snapshots: manifest v$v has been vacuumed from $table " +
        s"(retention floor is v$floor)")
    val dir = manifestDir(table, v)
    require(fs(spark, table).exists(new Path(dir)),
      s"Snapshots: manifest v$v has been vacuumed from $table")
    // manifests read under ONE explicit schema: pre-spec/pre-MoR files
    // simply null-fill the columns they lack (the parquet reader's
    // missing-column rule — the same normalization the old per-frame
    // withColumn shims did), and no manifest read ever pays a footer
    // schema-inference job (guide §1.2: the schema is a constant of the
    // format, not something to rediscover per read)
    // DRIVER-SIDE backend: small manifests (the overwhelmingly common
    // case — segment bytes under [[DriverManifestMaxBytes]]) resolve
    // into a LocalRelation, so downstream collects and broadcast builds
    // against the manifest cost ZERO Spark jobs, and each segment is
    // decoded once per JVM ([[SegmentCache]]) — the checks above run
    // first, so a cached segment never serves a vacuumed or unpublished
    // version. Big tables fall through to the plan-side composition
    // (bounded-driver contract, ManifestScaleSpec).
    val chain = chainOf(spark, table, v)
    driverManifest(spark, table, chain, DriverManifestMaxBytes) match {
      case Some(entries) =>
        spark.createDataset(entries)(FileEntryEncoder).toDF()
      case None => planManifest(spark, table, chain)
    }
  }

  /** Plan-side composition of one resolved [[chainOf]] — the backend
    * for manifests over [[DriverManifestMaxBytes]], whose entries never
    * reach the driver. [[driverManifest]] applies the same tombstone
    * rules to driver Seqs; ManifestBackendParitySpec pins the two to
    * identical entries. */
  private[io] def planManifest(spark: SparkSession, table: String,
      chain: (Int, List[(Int, DeltaMeta)])): DataFrame = {
    def readManifestDir(dir: String): DataFrame =
      spark.read.schema(ManifestSchema).parquet(dir)
    chain match {
      case (b, Nil) => // checkpoint: the complete set
        readManifestDir(checkpointParquetDir(spark, table, b))
      case (b, metas) =>
        // delta chain: nearest checkpoint + each delta's adds, tagged
        // with their origin version; a row survives unless its
        // partition carries a SAME-ERA tombstone from a LATER version
        // (an overwrite's own adds survive their own tombstone, and a
        // tombstone never reaches another spec's era even when the
        // partition VALUES collide). All of it composes lazily —
        // downstream pruning/diff/aggregation still runs over one plan.
        val segs =
          readManifestDir(checkpointParquetDir(spark, table, b))
            .withColumn("_origin", lit(b)) +:
            metas.collect { case (w, m) if m.hasAdds =>
              readManifestDir(manifestDir(table, w))
                .withColumn("_origin", lit(w))
            }
        val all = segs.reduce(_.unionByName(_))
        val removeRows = metas.flatMap { case (w, m) =>
          m.removes.map(r => (r, w, m.spec.orNull))
        }
        if (removeRows.isEmpty) all.drop("_origin")
        else {
          import spark.implicits._
          // anti-join: a row dies iff ANY later same-era tombstone
          // names its partition — multiplicity-safe when the same
          // value was overwritten under different specs
          val rm = broadcast(removeRows.toDF("_rpart", "_rmv", "_rspec"))
          all.join(rm,
            col("partition") === col("_rpart") &&
              col("_origin") < col("_rmv") &&
              specCompat(col("spec"), col("_rspec")),
            "left_anti")
            .drop("_origin")
        }
    }
  }

  /** Full manifest materialized to the driver — the debug/API surface
    * (specs, operator tooling). Internal planning paths use
    * [[manifestDF]] + targeted collects instead. */
  def readManifest(spark: SparkSession, table: String, v: Int)
      : Seq[FileEntry] =
    manifestDF(spark, table, v).as(FileEntryEncoder).collect().toSeq

  // ---- commits --------------------------------------------------------

  /** Can `t`'s min/max be recovered from parquet FOOTER statistics in
    * the same comparison domain the scan-based read-back produced?
    *  - integral / decimal / float / double: pruning compares these
    *    numerically (pruneColOpt casts to DECIMAL(38,18)), so any
    *    parseable decimal string is equivalent — footer values convert
    *    exactly (NaN falls back to unknown stats, which never prune).
    *  - string: Spark's string ordering IS unsigned UTF-8 byte order
    *    (UTF8String.compareTo), exactly the parquet UTF8 sort order the
    *    footer min/max were computed under — the domains coincide.
    *  - date: ISO `toString` order = value order, both engines agree.
    * Timestamps (cast-to-string formatting is session-dependent) and
    * anything exotic take the legacy scan path instead. */
  private def footerStatsSafe(t: org.apache.spark.sql.types.DataType)
      : Boolean = t match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.BooleanType |
         org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DoubleType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  /** (rows, per-column StatRange) of ONE just-written parquet file,
    * read from its FOOTER — no data scanned. Unknown or unusable
    * footer stats yield a null lo/hi range, which [[pruneColOpt]]
    * keeps (conservative: weaker pruning, never a lost row). */
  private def footerFileStats(conf: org.apache.hadoop.conf.Configuration,
      file: Path, statsCols: Seq[String],
      types: Map[String, org.apache.spark.sql.types.DataType])
      : (Long, Map[String, StatRange]) = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stats = statsCols.map { c =>
        val t = types(c)
        val typName = t.typeName
        // one Statistics per block; a block whose stats are absent or
        // unusable makes the whole column unknown (conservative)
        val chunkStats = blocks.map(b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c)
            .map(_.getStatistics).orNull)
        if (chunkStats.exists(s => s == null || s.isEmpty))
          c -> StatRange(typName, null, null)
        else {
          val nonNull = chunkStats.filter(_.hasNonNullValue)
          if (nonNull.isEmpty) c -> StatRange(typName, null, null)
          else c -> footerRange(t, typName,
            nonNull.map(_.genericGetMin.asInstanceOf[AnyRef]),
            nonNull.map(_.genericGetMax.asInstanceOf[AnyRef]))
        }
      }.toMap
      (rows, stats)
    } finally reader.close()
  }

  /** Fold per-block footer min/max values into one stringified
    * StatRange in the scan-read-back's comparison domain (see
    * [[footerStatsSafe]] for why each mapping is order-exact). */
  private def footerRange(t: org.apache.spark.sql.types.DataType,
      typName: String, mins: Seq[AnyRef], maxs: Seq[AnyRef]): StatRange = {
    import org.apache.spark.sql.types._
    def long(v: AnyRef): Long = v match {
      case i: java.lang.Integer => i.toLong
      case l: java.lang.Long => l
      case o => o.toString.toLong
    }
    t match {
      case ByteType | ShortType | IntegerType | LongType =>
        StatRange(typName, mins.map(long).min.toString,
          maxs.map(long).max.toString)
      case BooleanType =>
        val bs = (v: AnyRef) => v.asInstanceOf[java.lang.Boolean]
        StatRange(typName, mins.map(bs).min.toString,
          maxs.map(bs).max.toString)
      case DateType =>
        StatRange(typName,
          java.time.LocalDate.ofEpochDay(mins.map(long).min).toString,
          java.time.LocalDate.ofEpochDay(maxs.map(long).max).toString)
      case StringType =>
        // min/max under UNSIGNED byte order — Spark's own string order
        val bytes = (v: AnyRef) =>
          v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
        val lo = mins.map(bytes).reduce((a, b) =>
          if (java.util.Arrays.compareUnsigned(a, b) <= 0) a else b)
        val hi = maxs.map(bytes).reduce((a, b) =>
          if (java.util.Arrays.compareUnsigned(a, b) >= 0) a else b)
        StatRange(typName, new String(lo, StandardCharsets.UTF_8),
          new String(hi, StandardCharsets.UTF_8))
      case d: DecimalType =>
        def unscaled(v: AnyRef): java.math.BigInteger = v match {
          case i: java.lang.Integer => java.math.BigInteger.valueOf(i.toLong)
          case l: java.lang.Long => java.math.BigInteger.valueOf(l)
          case b: org.apache.parquet.io.api.Binary =>
            new java.math.BigInteger(b.getBytes)
          case o => new java.math.BigInteger(o.toString)
        }
        def dec(v: AnyRef) = new java.math.BigDecimal(unscaled(v), d.scale)
        StatRange(typName, mins.map(dec).min.toPlainString,
          maxs.map(dec).max.toPlainString)
      case FloatType | DoubleType =>
        val dbl = (v: AnyRef) => v match {
          case f: java.lang.Float => f.toDouble
          case x: java.lang.Double => x.doubleValue()
          case o => o.toString.toDouble
        }
        val (lo, hi) = (mins.map(dbl).min, maxs.map(dbl).max)
        if (lo.isNaN || hi.isNaN) StatRange(typName, null, null)
        else StatRange(typName, lo.toString, hi.toString)
      case _ => StatRange(typName, null, null)
    }
  }

  /** Bounded-parallel driver-side map — the footer-stats reader below
    * opens one parquet footer per committed file, and a serial loop
    * made the driver-side metadata time O(files) × per-open latency
    * (guide §5: the driver should do almost no serial data work; at
    * the 100 TB shape a full-table commit is ~10⁶ files). Footer opens
    * are independent I/O, so a small fixed pool overlaps them; order
    * is preserved. */
  private def parMapFiles[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, xs.size))
      try {
        val futs = xs.map(x => pool.submit(
          new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
        futs.map(_.get())
      } finally pool.shutdown()
    }

  /** A just-written file's size and mtime, as its manifest entry
    * records them (see [[FileEntry]]). */
  private def sized(e: FileEntry,
      st: Option[org.apache.hadoop.fs.FileStatus]): FileEntry =
    e.copy(bytes = st.map(_.getLen), mtime = st.map(_.getModificationTime))

  /** Look a read-back row's `input_file_name` up among the statuses of
    * one glob of the commit's own files. Keyed by (parent dir, file
    * name): unique within a commit dir (one task writes the same name
    * into each partition dir, never twice into one), and equal whether
    * the path came from a listing or from the URI-encoded file name. */
  private def statusOfFile(files: Seq[org.apache.hadoop.fs.FileStatus])
      : String => Option[org.apache.hadoop.fs.FileStatus] = {
    def key(p: Path) = s"${p.getParent.getName}/${p.getName}"
    val byKey = files.map(st => key(st.getPath) -> st).toMap
    uri => byKey.get(key(new Path(new java.net.URI(uri))))
  }

  /** A commit's own file, from its glob status, as a pin entry. */
  private def pinOf(dir: String)(st: FileStatus): PinFile = {
    val full = st.getPath.toString
    PinFile(full.substring(full.indexOf(dir)), 0, null, Some(st.getLen),
      Some(st.getModificationTime))
  }

  /** Stats of every file under `dir` — from parquet footers when every
    * stat column's type is footer-safe (O(files) driver metadata, NO
    * extra pass over just-written data — the Iceberg DataFile-stats
    * shape; guide §6), falling back to one bounded read-back scan job
    * otherwise. `schema` is the WRITER's schema, so even the fallback
    * skips footer schema inference. Either way the one glob of `dir`
    * supplies each file's status (size and mtime). */
  private def fileStats(spark: SparkSession, table: String, dir: String,
      statsCols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[(String, Long, Map[String, StatRange],
          Option[org.apache.hadoop.fs.FileStatus])] = {
    val types = schema.map(s => statsCols.map(c =>
      c -> s(c).dataType).toMap)
    val files = fs(spark, table)
      .globStatus(new Path(s"$table/$dir/*.parquet")).toSeq
    if (types.exists(_.values.forall(footerStatsSafe))) {
      val conf = spark.sparkContext.hadoopConfiguration
      return parMapFiles(files) { st =>
        val full = st.getPath.toString
        val rel = full.substring(full.indexOf(dir))
        val (rows, stats) =
          footerFileStats(conf, st.getPath, statsCols, types.get)
        (rel, rows, stats, Some(st))
      }
    }
    val statusOf = statusOfFile(files)
    val df = scanFiles(spark, table, files.map(pinOf(dir)), schema)
    val typs = statsCols.map(c => c -> df.schema(c).dataType.typeName).toMap
    val aggs = count(lit(1L)).as("_rows") +:
      statsCols.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"_lo_$c"),
        max(col(c)).cast("string").as(s"_hi_$c")))
    df.groupBy(input_file_name().as("_path")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        val full = r.getString(0)
        val rel = full.substring(full.indexOf(dir))
        val stats = statsCols.map { c =>
          c -> StatRange(typs(c),
            r.getAs[String](s"_lo_$c"), r.getAs[String](s"_hi_$c"))
        }.toMap
        (rel, r.getAs[Long]("_rows"), stats, statusOf(full))
      }
  }

  /** The one manifest shape every reader sees (see [[FileEntry]]).
    * Reads pass it explicitly — older files null-fill the columns they
    * predate — and the driver-side writer below emits exactly this
    * structure, so Spark- and driver-written manifest files are
    * interchangeable on disk. */
  private[io] val ManifestSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType),
      StructField("partition", StringType),
      StructField("rows", LongType),
      StructField("stats", MapType(StringType, StructType(Seq(
        StructField("typ", StringType),
        StructField("lo", StringType),
        StructField("hi", StringType))))),
      StructField("spec", StringType),
      StructField("kind", StringType),
      StructField("seq", IntegerType),
      StructField("bytes", LongType),
      StructField("mtime", LongType)))
  }

  /** Parquet-message twin of [[ManifestSchema]] for the driver-side
    * writer — field names, order and logical types match what Spark's
    * own parquet writer emits for a `Dataset[FileEntry]`, so readers
    * cannot tell which writer produced a file. */
  private lazy val ManifestMessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message graft_manifest {
        |  optional binary path (STRING);
        |  optional binary partition (STRING);
        |  optional int64 rows;
        |  optional group stats (MAP) {
        |    repeated group key_value {
        |      required binary key (STRING);
        |      optional group value {
        |        optional binary typ (STRING);
        |        optional binary lo (STRING);
        |        optional binary hi (STRING);
        |      }
        |    }
        |  }
        |  optional binary spec (STRING);
        |  optional binary kind (STRING);
        |  optional int32 seq;
        |  optional int64 bytes;
        |  optional int64 mtime;
        |}""".stripMargin)

  /** Write one manifest segment ON THE DRIVER: the entries are already
    * a driver-side Seq (a commit's own files — O(commit), bounded),
    * so round-tripping them through a one-task Spark job (plan +
    * schedule + commit protocol) bought nothing. The plan-side carry
    * paths (checkpoints, vacuum re-checkpoints) still write through
    * Spark — those are O(table files) and belong on executors. */
  private def writeManifestEntries(spark: SparkSession, dir: String,
      entries: Seq[FileEntry]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val f = fs(spark, dir)
    // the Spark writer this replaces ran in overwrite mode — clear any
    // crash-retry debris so a re-driven commit can't double its entries
    if (f.exists(new Path(dir))) f.delete(new Path(dir), true)
    f.mkdirs(new Path(dir))
    val file = new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID}.parquet")
    val w = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, spark.sparkContext.hadoopConfiguration))
      .withType(ManifestMessageType)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val gf = new SimpleGroupFactory(ManifestMessageType)
    try entries.foreach { e =>
      val g = gf.newGroup()
      g.add("path", e.path)
      if (e.partition != null) g.add("partition", e.partition)
      g.add("rows", e.rows)
      val m = g.addGroup("stats")
      e.stats.foreach { case (k, st) =>
        val kv = m.addGroup("key_value")
        kv.add("key", k)
        val v = kv.addGroup("value")
        v.add("typ", st.typ)
        if (st.lo != null) v.add("lo", st.lo)
        if (st.hi != null) v.add("hi", st.hi)
      }
      e.spec.foreach(g.add("spec", _))
      e.kind.foreach(g.add("kind", _))
      e.seq.foreach(g.add("seq", _))
      e.bytes.foreach(g.add("bytes", _))
      e.mtime.foreach(g.add("mtime", _))
      w.write(g)
    } finally w.close()
  }

  private def writeManifest(spark: SparkSession, table: String, v: Int,
      entries: Seq[FileEntry]): Unit =
    writeManifestEntries(spark, manifestDir(table, v), entries)

  /** Max combined manifest-segment bytes a resolution may read ON THE
    * DRIVER (parquet-mr, zero Spark jobs — the read twin of
    * [[writeManifestEntries]]). Under the cap a resolution returns a
    * LocalRelation, so every downstream collect (path lists, probe
    * pruning, MoR entry splits) and every broadcast build against the
    * manifest stops costing a Spark job — measured ~1–3 jobs × ~50 ms
    * driver latency per resolution across the whole index-build query
    * class. Over the cap (≈30k+ files) the plan-side composition keeps
    * the bounded-driver contract for big tables (ManifestScaleSpec). */
  private val DriverManifestMaxBytes: Long = 2L * 1024 * 1024

  /** Decode one manifest row from a parquet-mr Group — fields the file
    * predates (pre-spec/pre-MoR manifests) read as None/null, exactly
    * like the explicit-schema Spark read's null-fill. */
  private def groupToEntry(g: org.apache.parquet.example.data.Group)
      : FileEntry = {
    val t = g.getType
    def has(n: String): Boolean =
      t.containsField(n) && g.getFieldRepetitionCount(n) > 0
    def str(n: String): String = if (has(n)) g.getString(n, 0) else null
    val stats: Map[String, StatRange] =
      if (!has("stats")) Map.empty
      else {
        val sg = g.getGroup("stats", 0)
        val nKv =
          if (sg.getType.containsField("key_value"))
            sg.getFieldRepetitionCount("key_value")
          else 0
        (0 until nKv).map { i =>
          val kv = sg.getGroup("key_value", i)
          val key = kv.getString("key", 0)
          val (typ, lo, hi) =
            if (kv.getFieldRepetitionCount("value") == 0)
              (null: String, null: String, null: String)
            else {
              val vg = kv.getGroup("value", 0)
              def vs(n: String): String =
                if (vg.getType.containsField(n) &&
                    vg.getFieldRepetitionCount(n) > 0) vg.getString(n, 0)
                else null
              (vs("typ"), vs("lo"), vs("hi"))
            }
          key -> StatRange(typ, lo, hi)
        }.toMap
      }
    def long(n: String): Option[Long] =
      if (has(n)) Some(g.getLong(n, 0)) else None
    FileEntry(str("path"), str("partition"), long("rows").getOrElse(0L),
      stats, Option(str("spec")), Option(str("kind")),
      if (has("seq")) Some(g.getInteger("seq", 0)) else None,
      long("bytes"), long("mtime"))
  }

  /** Read every entry of one manifest segment's part files with
    * parquet-mr on the driver. */
  private def readManifestEntriesDriver(
      conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.FileStatus]): Seq[FileEntry] = {
    import org.apache.parquet.hadoop.example.GroupReadSupport
    files.flatMap { st =>
      val out = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
      val r = org.apache.parquet.hadoop.ParquetReader
        .builder(new GroupReadSupport(), st.getPath)
        .withConf(conf).build()
      try {
        var g = r.read()
        while (g != null) {
          out += groupToEntry(g)
          g = r.read()
        }
      } finally r.close()
      out.toSeq
    }
  }

  /** Decoded manifest segments, one per segment dir, bounded LRU by
    * the segments' on-disk bytes. A segment dir is a published delta
    * (`_manifests/v{N}`) or checkpoint (`v{N}` or its `_ckpt_<id>`
    * re-checkpoint) and never changes once its version publishes — a
    * vacuum re-checkpoint writes a NEW `_ckpt_` dir. Entries are keyed
    * by the qualified dir and validated against the one glob a
    * resolution makes of it anyway (each part file's name, length and
    * mtime; part names carry a random UUID): a table dropped and
    * re-created at the same path, or a crashed commit's manifest dir
    * re-written by the re-driven commit, lists different files and
    * misses. Segments above [[DriverManifestMaxBytes]] (the plan-side
    * backend's) are never cached. */
  private object SegmentCache {
    private val MaxBytes: Long = 8 * DriverManifestMaxBytes
    final case class Seg(table: String, version: Int, listing: Set[String],
        bytes: Long, entries: Seq[FileEntry])
    private val lru = new java.util.LinkedHashMap[String, Seg](16, 0.75f,
      true)
    private var held = 0L

    def listing(files: Seq[org.apache.hadoop.fs.FileStatus]): Set[String] =
      files.map(st => s"${st.getPath.getName}:${st.getLen}:" +
        st.getModificationTime).toSet

    def get(dir: String, listing: Set[String]): Option[Seq[FileEntry]] =
      synchronized {
        Option(lru.get(dir)).filter(_.listing == listing).map(_.entries)
      }

    def put(dir: String, seg: Seg): Unit = synchronized {
      if (seg.bytes <= DriverManifestMaxBytes) {
        Option(lru.put(dir, seg)).foreach(old => held -= old.bytes)
        held += seg.bytes
        val it = lru.values.iterator
        while (held > MaxBytes && it.hasNext) {
          held -= it.next().bytes
          it.remove()
        }
      }
    }

    /** Drop `table`'s segments of versions below `floor`. */
    def evictBelow(table: String, floor: Int): Unit = synchronized {
      val it = lru.values.iterator
      while (it.hasNext) {
        val seg = it.next()
        if (seg.table == table && seg.version < floor) {
          held -= seg.bytes
          it.remove()
        }
      }
    }
  }

  /** Driver-side composition of one resolved [[chainOf]]'s complete
    * entry set — the same checkpoint + delta-adds + same-era-tombstone
    * composition [[planManifest]] runs plan-side, over driver Seqs.
    * Returns None when the combined segment bytes exceed `maxBytes`.
    * Each segment is globbed; only a segment [[SegmentCache]] does not
    * hold is read with parquet-mr, so resolving v+1 after a commit
    * reads just the commit's delta. */
  private[io] def driverManifest(spark: SparkSession, table: String,
      chain: (Int, List[(Int, DeltaMeta)]), maxBytes: Long)
      : Option[Seq[FileEntry]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, table)
    val root = f.makeQualified(new Path(table)).toString
    def segFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] =
      f.globStatus(new Path(s"$dir/*.parquet")) match {
        case null => Nil
        case a => a.toSeq
      }
    val (b, metas) = chain
    val segs: Seq[(Int, String, Seq[org.apache.hadoop.fs.FileStatus])] =
      ((b, checkpointParquetDir(spark, table, b)) +:
        metas.collect { case (w, m) if m.hasAdds =>
          (w, manifestDir(table, w))
        }).map { case (w, dir) =>
          (w, f.makeQualified(new Path(dir)).toString, segFiles(dir))
        }
    if (segs.iterator.flatMap(_._3).map(_.getLen).sum > maxBytes)
      return None
    // same-era tombstones: a row dies iff ANY later tombstone names its
    // partition under a compatible spec (null/None on either side =
    // pre-evolution behavior, value match alone removes) — the driver
    // replica of the plan-side anti-join, including its null-partition
    // semantics (NULL === x is never TRUE, so the row survives)
    val removes = metas.flatMap { case (w, m) =>
      m.removes.map(r => (r, w, m.spec))
    }
    def alive(e: FileEntry, origin: Int): Boolean =
      e.partition == null || !removes.exists { case (rp, rv, rs) =>
        origin < rv && rp != null && e.partition == rp &&
          (e.spec.isEmpty || rs.isEmpty || e.spec == rs)
      }
    Some(segs.flatMap { case (origin, dir, files) =>
      val listing = SegmentCache.listing(files)
      SegmentCache.get(dir, listing).getOrElse {
        val read = readManifestEntriesDriver(conf, files)
        SegmentCache.put(dir, SegmentCache.Seg(root, origin, listing,
          files.map(_.getLen).sum, read))
        read
      }.filter(alive(_, origin))
    })
  }

  /** Manifest write from a PLAN (carried-forward rows read lazily from
    * the previous manifest union'd with the commit's fresh entries) —
    * the carried file set never round-trips through the driver. */
  private def writeManifestDF(spark: SparkSession, df: DataFrame,
      table: String, v: Int): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(manifestDir(table, v))

  /** FUSED commit-dir write: every touched partition lands in ONE
    * Spark job via `partitionBy` on a shadow string column (`gp` — the
    * original `partCol` stays in the data files; the shadow is consumed
    * by the directory layout), then one metadata job reads the commit
    * dir back (partition discovery restores `gp`) and collects per-file
    * stats + partition ownership. Two jobs total regardless of how many
    * partitions the commit touches — the production shape the
    * per-partition loop's scaladoc used to only point at.
    *
    * File count is SIZE-derived, not core-derived (guide §6 small
    * files / §2 scale-adaptive partitioning): without the REBALANCE
    * exchange, `partitionBy` writes one file per (upstream task ×
    * partition value) — the co-purchase edge store measured ~80 files
    * per commit at sf0.1 (27 write tasks × 8 buckets), each read-back
    * then paying 80 scan tasks and 80 footer opens, and the count
    * would scale with cluster cores at 100 TB. The AQE-sized rebalance
    * on the shadow partition column coalesces to
    * advisoryPartitionSizeInBytes-sized outputs (and splits skewed
    * partition values), so a tiny commit writes one file per value and
    * a huge one writes ~advisory-sized files — same rows either way.
    * `preserveLayout = true` skips the exchange for callers that
    * deliberately pre-shaped the frame (range-sorted posting lists /
    * adjacency stores whose per-FILE min-max stats must stay disjoint
    * for manifest pruning, and commitCompact's explicit coalesce). */
  private def writeCommitData(df: DataFrame, table: String, v: Int,
      partCol: String, statsCols: Seq[String],
      preserveLayout: Boolean = false): Seq[FileEntry] = {
    val spark = df.sparkSession
    val dir = s"data/c$v"
    val shadowed = df.withColumn("gp", col(partCol).cast("string"))
    (if (preserveLayout) shadowed else shadowed.hint("rebalance", "gp"))
      .write.partitionBy("gp").mode("overwrite").parquet(s"$table/$dir")
    // an EMPTY input writes only _SUCCESS — one driver glob detects it
    // without any read-back (the dir is removed so `data/` holds only
    // versions that actually added files)
    val f = fs(spark, table)
    val files = f.globStatus(new Path(s"$table/$dir/*/*.parquet")).toSeq
    if (files.isEmpty) {
      f.delete(new Path(s"$table/$dir"), true)
      return Nil
    }
    val types = statsCols.map(c => c -> df.schema(c).dataType).toMap
    if (types.values.forall(footerStatsSafe)) {
      // FOOTER metadata path (the default): per-file rows + min/max
      // from the parquet footers of the files just written, partition
      // value from the directory name — zero extra passes over the
      // commit's data (pre-round-14 this was a full read-back scan job,
      // an O(commit data) second pass; guide §1.2/§6)
      val conf = spark.sparkContext.hadoopConfiguration
      parMapFiles(files) { st =>
        val full = st.getPath.toString
        val rel = full.substring(full.indexOf(dir))
        val gpDir = st.getPath.getParent.getName
        val part = unescapePartitionValue(gpDir.stripPrefix("gp="))
        val (rows, stats) = footerFileStats(conf, st.getPath, statsCols,
          types)
        sized(FileEntry(rel, part, rows, stats, Some(partCol), kind = None,
          seq = Some(v)), Some(st))
      }
    } else {
      // legacy read-back scan (stat types the footer domain can't
      // stringify faithfully, e.g. timestamps) — still under the
      // writer's schema, so no footer schema-inference job
      val typs = statsCols.map { case c => c -> types(c).typeName }.toMap
      val statusOf = statusOfFile(files)
      val back = scanFiles(spark, table, files.map(pinOf(dir)),
        Some(df.schema))
      val aggs = count(lit(1L)).as("_rows") +:
        statsCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"_lo_$c"),
          max(col(c)).cast("string").as(s"_hi_$c")))
      back.groupBy(input_file_name().as("_path"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().toSeq.map { r =>
          val full = r.getString(0)
          val rel = full.substring(full.indexOf(dir))
          val part = unescapePartitionValue(new Path(new java.net.URI(full))
            .getParent.getName.stripPrefix("gp="))
          val stats = statsCols.map { c =>
            c -> StatRange(typs(c),
              r.getAs[String](s"_lo_$c"), r.getAs[String](s"_hi_$c"))
          }.toMap
          sized(FileEntry(rel, part,
            r.getAs[Long]("_rows"), stats, Some(partCol), kind = None,
            seq = Some(v)), statusOf(full))
        }
    }
  }

  /** Decode one `gp=<value>` directory name back to the partition
    * value: Spark's partition-path escaping is %XX on a fixed special
    * set, and the HIVE_DEFAULT sentinel encodes null (which commit
    * validation then refuses, exactly as the old read-back's
    * partition-discovery null did). */
  private def unescapePartitionValue(s: String): String =
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else if (!s.contains('%')) s
    else {
      val out = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        // %XX with exactly two hex digits (Spark always emits both)
        if (c == '%' && i + 3 <= s.length &&
            Character.digit(s.charAt(i + 1), 16) >= 0 &&
            Character.digit(s.charAt(i + 2), 16) >= 0) {
          out.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { out.append(c); i += 1 }
      }
      out.toString
    }

  /** Initial (or wholesale re-) commit of a full table, one immutable
    * dir per partition value. Returns the new version. */
  def commitFull(df: DataFrame, table: String, partCol: String,
      statsCols: Seq[String] = Nil,
      preserveLayout: Boolean = false): Int = {
    val spark = df.sparkSession
    val v = currentVersion(spark, table) + 1
    reserve(spark, table, v)
    require(!df.columns.contains("gp"),
      "Snapshots.commitFull: column name 'gp' is reserved for the " +
        "commit layout")
    val entries = writeCommitData(df, table, v, partCol, statsCols,
      preserveLayout)
    // post-write validation (was a SEPARATE full computation of `df`
    // before round 14 — a distinct() pass that doubled every commit's
    // build cost; guide §1.2: don't compute things twice). The write
    // itself surfaces both invariants: no files ⇒ empty frame, a
    // HIVE_DEFAULT (null-decoded) partition dir ⇒ null partCol rows.
    validateCommitEntries(spark, table, v, entries, partCol,
      "commitFull", allowEmpty = false)
    writeManifest(spark, table, v, entries)
    // wholesale re-commit: the frame's schema IS the table schema (no
    // carried files to stay compatible with)
    writeSchema(spark, table, v, df.schema)
    writePartSpec(spark, table, v, partCol)
    publish(spark, table, v)
    v
  }

  /** Post-write commit validation — the invariants the old
    * `requireCommittable` pre-pass enforced, now read off the commit's
    * OWN file entries so no separate full computation of the input is
    * paid: an empty frame (refused unless appending — a published
    * empty version could never resolve a scan) and a null partition
    * value (partitionBy buried those rows in a HIVE_DEFAULT dir the
    * read-back decodes to null — a value the manifest can't honestly
    * describe). A refused commit breaks its reservation; the orphaned
    * `data/c<v>` files are unreferenced by any manifest and fall to
    * the next vacuum. */
  private def validateCommitEntries(spark: SparkSession, table: String,
      v: Int, entries: Seq[FileEntry], partCol: String, op: String,
      allowEmpty: Boolean): Unit = {
    def refuse(msg: String): Nothing = {
      breakReservation(spark, table, v)
      throw new IllegalArgumentException(msg)
    }
    if (!allowEmpty && entries.isEmpty)
      refuse(s"Snapshots.$op: refusing to publish an EMPTY version " +
        "(no rows; a reader of it could never resolve a scan)")
    if (entries.exists(_.partition == null))
      refuse(s"Snapshots.$op: null $partCol is not a partitionable value")
  }

  /** Replace ONE partition with `df`'s rows (which must all carry
    * `partCol == value`); every other partition is carried by
    * reference — no data movement, no window where a reader can see
    * the partition half-swapped. Returns the new version. */
  def commitOverwritePartition(df: DataFrame, table: String,
      partCol: String, value: String,
      statsCols: Seq[String] = Nil,
      expectedPrev: Option[Int] = None,
      preserveLayout: Boolean = false): Int = {
    val spark = df.sparkSession
    val prev = currentVersion(spark, table)
    require(prev >= 1, s"Snapshots: no initial commit under $table")
    val v = prev + 1
    reserve(spark, table, v)
    // OCC snapshot validation — see commitOverwritePartitions
    expectedPrev.filter(_ != prev).foreach { _ =>
      breakReservation(spark, table, v)
      throw new ConcurrentCommitException(table, v)
    }
    val sch = validatedSchema(spark, table, prev, df,
      "commitOverwritePartition", v)
    val dir = s"data/c$v/$partCol=$value"
    // size-derived file count (see writeCommitData's scaladoc): the
    // keyless AQE rebalance coalesces a small rewrite to one file and
    // splits a huge one at advisory size, instead of writing one file
    // per upstream task (∝ cores)
    val restricted = df.where(col(partCol).cast("string") === value)
    (if (preserveLayout) restricted else restricted.hint("rebalance"))
      .write.mode("overwrite").parquet(s"$table/$dir")
    val fresh = fileStats(spark, table, dir, statsCols,
      Some(org.apache.spark.sql.types.StructType(
        df.schema.fields.map(_.copy(nullable = true))))).map {
      case (rel, n, st, status) =>
        sized(FileEntry(rel, value, n, st, Some(partCol), kind = None,
          seq = Some(v)), status)
    }
    // metadata-log commit: normally just the fresh entries + one
    // partition tombstone (O(commit)); every CheckpointEvery-th version
    // materializes the carried set plan-side into a fresh checkpoint
    commitManifest(spark, table, v, prev, fresh, Seq(value),
      Some(partCol))
    writeSchema(spark, table, v, sch)
    writePartSpec(spark, table, v, partCol)
    publish(spark, table, v)
    v
  }

  /** Replace SEVERAL partitions in ONE atomic commit: `df` must hold
    * exactly the new content of every partition in `values` (a value
    * with no rows in `df` publishes as a pure tombstone — the
    * partition disappears); every other partition carries by
    * reference. One fused write job + one metadata job + one manifest
    * regardless of how many partitions the commit touches — the batch
    * sibling of [[commitOverwritePartition]], and what keeps a
    * multi-cell compaction ([[deleteRows]]) at one version instead of
    * one commit per cell. Returns the new version. */
  def commitOverwritePartitions(df: DataFrame, table: String,
      partCol: String, values: Seq[String],
      statsCols: Seq[String] = Nil,
      expectedPrev: Option[Int] = None,
      preserveLayout: Boolean = false): Int = {
    val spark = df.sparkSession
    val prev = currentVersion(spark, table)
    require(prev >= 1, s"Snapshots: no initial commit under $table")
    require(values.nonEmpty,
      "Snapshots.commitOverwritePartitions: no partitions named")
    require(!df.columns.contains("gp"),
      "Snapshots.commitOverwritePartitions: column name 'gp' is " +
        "reserved for the commit layout")
    val v = prev + 1
    reserve(spark, table, v)
    // OCC snapshot validation (the Delta/Iceberg conflict check): a
    // caller that computed `df` FROM version expectedPrev must not
    // publish it on top of anything newer — that would silently drop
    // the concurrent commit's changes to the named partitions (lost
    // update). Checking AFTER the reservation is exact, not racy: the
    // held slot is the only one that can publish next, so
    // currentVersion is frozen at `prev` until we publish or release.
    expectedPrev.filter(_ != prev).foreach { _ =>
      breakReservation(spark, table, v)
      throw new ConcurrentCommitException(table, v)
    }
    val sch = validatedSchema(spark, table, prev, df,
      "commitOverwritePartitions", v)
    val restricted = df
      .where(col(partCol).cast("string").isin(values: _*))
    // partitions whose entire content was dropped write no files — the
    // tombstone alone removes them. The write IS the presence probe
    // (pre-round-14 a separate distinct() pass over `restricted` ran
    // the whole rewrite plan twice); writeCommitData returns Nil when
    // nothing survived the restriction.
    val fresh = writeCommitData(restricted, table, v, partCol, statsCols,
      preserveLayout)
    // the empty-version invariant, restated for tombstone commits: a
    // published version whose manifest names NO files could never
    // resolve a scan — reachable when the overwrite drops every row of
    // every partition the table has (e.g. deleteRows matching the whole
    // table). One limit-1 probe of the carried manifest, only on the
    // path that could actually publish empty; the refused slot's
    // reservation is released so the table isn't wedged.
    if (fresh.isEmpty) {
      // spec-scoped like the tombstone it probes for (commitManifest's
      // specCompat): an OTHER-ERA file whose partition VALUE collides
      // with `values` is untouched by this commit's era-scoped
      // tombstone and therefore a survivor — counting it as removed
      // would spuriously refuse a commit that leaves it live. Only
      // DATA files count: a version whose sole entries are MoR delete
      // files has nothing to scan either
      // (`isEmpty` is a limit-1 take: no job on a driver-side manifest)
      val noSurvivor = manifestDF(spark, table, prev)
        .where(!isDelete(col("kind")) &&
          !(col("partition").isin(values: _*) &&
            specCompat(col("spec"), lit(partCol).cast("string"))))
        .isEmpty
      if (noSurvivor) {
        breakReservation(spark, table, v)
        throw new IllegalArgumentException(
          "Snapshots.commitOverwritePartitions: refusing to publish an " +
            "EMPTY version (the commit tombstones every partition and " +
            "adds no files; a reader of it could never resolve a scan)")
      }
    }
    commitManifest(spark, table, v, prev, fresh, values, Some(partCol))
    writeSchema(spark, table, v, sch)
    writePartSpec(spark, table, v, partCol)
    publish(spark, table, v)
    v
  }

  /** Append-only commit — the streaming-sink building block: new files
    * for the batch's touched partitions are ADDED to the carried
    * manifest (nothing replaced). `tag`, when given, is recorded inside
    * the manifest dir BEFORE the pointer publish, so "this batch is
    * applied" and "this batch's rows are visible" become one atomic
    * fact — the exactly-once hinge [[batchApplied]] reads. Works from
    * an empty table (v1 = the first appended batch). */
  def commitAppend(df: DataFrame, table: String, partCol: String,
      statsCols: Seq[String] = Nil, tag: Option[String] = None,
      preserveLayout: Boolean = false): Int = {
    val spark = df.sparkSession
    val prev = currentVersion(spark, table)
    val v = prev + 1
    reserve(spark, table, v)
    val sch =
      if (prev == 0) df.schema
      else validatedSchema(spark, table, prev, df, "commitAppend", v)
    require(!df.columns.contains("gp"),
      "Snapshots.commitAppend: column name 'gp' is reserved for the " +
        "commit layout")
    // empty micro-batches are legal appends: the version still publishes
    // (carrying the previous file set) so the batch tag lands atomically;
    // writeCommitData returns Nil for them (no pre-pass over the input)
    val fresh = writeCommitData(df, table, v, partCol, statsCols,
      preserveLayout)
    validateCommitEntries(spark, table, v, fresh, partCol,
      "commitAppend", allowEmpty = true)
    commitManifest(spark, table, v, prev, fresh, Nil, Some(partCol))
    writeSchema(spark, table, v, sch)
    writePartSpec(spark, table, v, partCol)
    tag.foreach { t =>
      val f = fs(spark, table)
      f.create(new Path(manifestDir(table, v), s"_applied_$t"), true).close()
    }
    publish(spark, table, v)
    v
  }

  /** Has a [[commitAppend]] carrying `tag` already PUBLISHED? Scans the
    * retained manifest dirs (O(versions) exists-checks — metadata
    * only). Replay semantics: a foreachBatch retry re-offers only the
    * last unconfirmed batch, so markers vacuumed with ancient history
    * are long past the replay window. */
  def batchApplied(spark: SparkSession, table: String, tag: String)
      : Boolean = {
    val f = fs(spark, table)
    (1 to currentVersion(spark, table)).exists(v =>
      f.exists(new Path(manifestDir(table, v), s"_applied_$tag")))
  }

  /** Snapshot-safe small-file compaction: rewrite one partition's
    * current file set as `targetFiles` files in a NEW commit. Unlike
    * the in-place [[Compaction]] swap, readers need no recovery
    * reasoning at all — pinned readers keep their (uncompacted) file
    * set, fresh readers plan over the compacted one, and the old files
    * stay until [[vacuum]] drops their last referencing manifest.
    * Returns the new version. */
  def commitCompact(spark: SparkSession, table: String, partCol: String,
      value: String, targetFiles: Int = 1,
      statsCols: Seq[String] = Nil): Int = {
    val cur = currentVersion(spark, table)
    val mine = pin(manifestDF(spark, table, cur),
      col("partition") === lit(value))
    require(mine.data.nonEmpty,
      s"Snapshots.commitCompact: no files for $partCol=$value")
    // MoR-filtered (the deleteRows rule): the compacted file's fresh
    // seq must not resurrect rows an active delete file suppresses
    commitOverwritePartition(
      scanPin(spark, table, mine, schemaOf(spark, table, cur))
        .coalesce(targetFiles),
      table, partCol, value, statsCols, expectedPrev = Some(cur),
      // the explicit coalesce IS this API's contract — a rebalance
      // exchange on top would override targetFiles
      preserveLayout = true)
  }

  /** Copy-on-write row-level delete (the GDPR/retraction path): every
    * partition holding a key in `keys` is rewritten WITHOUT the
    * matching rows, all together in ONE snapshot commit
    * ([[commitOverwritePartitions]] — one write job, one metadata job,
    * one manifest; a first cut committed per-cell and paid ~8 commit
    * round-trips on an 8-cell store). All other partitions carry by
    * reference, pinned readers keep their pre-delete version (the
    * snapshot contract), and vacuum reclaims the superseded files on
    * the usual retention schedule. A partition whose every row matches
    * publishes as a pure tombstone. Untouched partitions cost nothing;
    * the scan to FIND affected partitions is one semi-join pruned to
    * `partCol`. Returns the rewritten partition count. Merge-on-read
    * is the query-side dual: serve paths anti-join a small tombstone
    * set instead (see emb_ivf_delete), then call this to compact the
    * tombstones away. */
  def deleteRows(spark: SparkSession, table: String, partCol: String,
      keyCol: String, keys: DataFrame,
      statsCols: Seq[String] = Nil): Int = {
    import spark.implicits._
    // the whole delete computes against ONE pinned version, and each
    // commit validates it is still current (OCC) — a commit landing
    // in between must fail the rewrite, not be silently overwritten
    val baseV = currentVersion(spark, table)
    // ERA-AWARE resolution under partition-spec evolution: a file's
    // manifest `partition` value is meaningful only in its own era —
    // pinning by the CURRENT spec's values would (a) silently skip
    // keys living in legacy-era files (their manifest values are
    // old-spec; the key survives the "delete") and (b) rewrite a
    // colliding-value legacy file's rows under the NEW spec while the
    // era-scoped tombstone spares the original file (row duplication).
    // Instead each era resolves with ITS OWN partCol: affected values
    // computed from that era's files, the pin and the tombstone scoped
    // to that era, and the rewrite committed UNDER that era's spec (a
    // row never migrates eras through a delete). Files written before
    // spec tracking (spec null) belong to the caller's-partCol era —
    // the pre-evolution behavior, where a value-matching tombstone
    // reaches them. Eras commit separately (one OCC-chained version
    // each, current era last); the operation is idempotent, so a crash
    // between era commits re-runs to completion.
    val mdf = manifestDF(spark, table, baseV)
    val eras = mdf.where(!isDelete(col("kind")))
      .select(coalesce(col("spec"), lit(partCol)).as("s")).distinct()
      .as[String].collect().sorted
      .sortBy(_ == partCol) // current era commits LAST (tie to caller)
    val sch = schemaOf(spark, table, baseV)
    var touched = 0
    // OCC across the era chain: every pin resolves against baseV (each
    // era commit tombstones only its OWN era's partitions, so baseV's
    // file set stays exact for the eras still to come), and each commit
    // expects exactly baseV + (our own commits so far) — a FOREIGN
    // commit landing mid-chain fails the next era commit instead of
    // being silently rewritten over
    var expect = baseV
    // affected-partition PROBE is key-range pruned (the rewrite set
    // `mine` below stays partition-complete — whole partitions rewrite)
    val keyPrune = keyRangePrune(keys, keyCol)
    eras.foreach { eraCol =>
      require(sch.forall(_.fieldNames.contains(eraCol)),
        s"Snapshots.deleteRows: era partition column '$eraCol' missing " +
          s"from v$baseV's schema of $table")
      val eraPred =
        if (eraCol == partCol) col("spec").isNull || col("spec") === eraCol
        else col("spec") === eraCol
      val eraPin = pin(mdf, eraPred && keyPrune)
      if (eraPin.data.nonEmpty) {
        // MoR-filtered: the rewrite's fresh seq makes older delete
        // files inert for these partitions — rows they suppressed must
        // not ride back in through the copy-on-write scan
        val affected = scanPin(spark, table, eraPin, sch)
          .join(keys.select(keyCol), Seq(keyCol), "left_semi")
          .select(col(eraCol).cast("string")).distinct()
          .as[String].collect().sorted
        if (affected.nonEmpty) {
          val mine = pin(mdf,
            eraPred && col("partition").isin(affected.toSeq: _*))
          val kept = scanPin(spark, table, mine, sch)
            .join(keys.select(keyCol), Seq(keyCol), "left_anti")
          // statsCols must survive the rewrite: a compaction that
          // dropped the manifest min/max of the store's range column
          // would silently turn every later stats-pruned read (any
          // filter over a pinned read) into a full-file scan of the
          // rewritten partitions — pruneColOpt fails open, so answers
          // stay right while the targeted-read contract rots
          expect = commitOverwritePartitions(kept, table, eraCol,
            affected.toSeq, statsCols, expectedPrev = Some(expect))
          touched += affected.length
        }
      }
    }
    touched
  }

  /** Transactional MERGE INTO the snapshot table — the CDC landing
    * path (the last quarter of the reference's "Iceberg/Delta for
    * transactional upserts and time travel" roadmap item, reference
    * `docs/design.md:168`): [[graft.operators.Merge.upsert]] supplies
    * the row semantics (op 'U'/'I' upserts, 'D' deletes, unmatched
    * target rows pass through), this supplies the transaction — ONE
    * atomic version, pinned readers undisturbed, time travel across
    * the merge.
    *
    * Copy-on-write, partition-scoped: the batch touches only
    *  - partitions holding a CHANGED key (one semi-join, pruned to
    *    `partCol`), and
    *  - partitions non-delete change rows LAND in (the change's own
    *    `partCol` value — which may be brand-new, or differ from the
    *    key's current partition: a partition-key-changing update
    *    rewrites both the old home and the new one);
    * everything else carries by reference. The merge join itself runs
    * over ONLY the affected partitions' files (resolved once from the
    * manifest — the same pinning discipline as [[readAsOf]]), so a
    * 100-row CDC batch against a 100 TB table reads and rewrites the
    * touched partitions, never the table. A partition emptied by its
    * deletes publishes as a pure tombstone; a batch that would empty
    * the whole table is refused (the EMPTY-version guard).
    *
    * Caller contract (the MERGE contract [[graft.operators.Merge]]
    * documents): `keyCol` is unique in the table and at most one
    * change row per key per batch. `changes` carries `keyCol`,
    * `partCol`, `opCol`, and any subset of the table's other columns:
    * a batch from a producer still emitting a PRE-EVOLUTION shape
    * merges fine — table columns the batch lacks are null-filled in
    * its rows (the write-path dual of the read path's null-fill of
    * old files; a change row is a full-row statement in the schema its
    * producer knows, so columns it has never heard of hold NULL, not a
    * carried-over target value). Columns NEW to the batch evolve the
    * table schema add-only, exactly as a commit would. Returns the new
    * version, or 0 when the batch touches nothing (no commit). */
  def mergeRows(spark: SparkSession, table: String, partCol: String,
      keyCol: String, changes0: DataFrame, opCol: String = "op",
      statsCols: Seq[String] = Nil): Int = {
    import spark.implicits._
    // one pinned version end-to-end, validated at commit (OCC): a
    // concurrent commit between this read and the publish must fail
    // the merge — retry from a fresh read — never be silently dropped
    val baseV = currentVersion(spark, table)
    val mdf = manifestDF(spark, table, baseV)
    val sch = schemaOf(spark, table, baseV)
    // the version's columns, as an empty frame: no data file pinned
    val target = scanPin(spark, table, pin(mdf, lit(false)), sch)
    Seq(keyCol, partCol, opCol).foreach(c =>
      require(changes0.columns.contains(c),
        s"Snapshots.mergeRows: change batch must carry '$c'"))
    // null-fill table columns the (schema-evolved-past) batch lacks
    val changes = target.schema.fields
      .filterNot(f => changes0.columns.contains(f.name))
      .foldLeft(changes0)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType)))
    // columns NEW to the batch ride through the merge and evolve the
    // table schema add-only at the commit (target rows null-fill them,
    // the same rule an append evolution applies to old files)
    val batchNew = changes0.schema.fields
      .filterNot(f => target.columns.contains(f.name) || f.name == opCol)
    val attrCols = (target.columns.filterNot(_ == keyCol) ++
      batchNew.map(_.name)).toSeq
    // ERA GUARD under partition-spec evolution: a change key whose
    // current row lives in a LEGACY-era file cannot be merged
    // copy-on-write here — its file's manifest partition value is
    // old-spec, so the value-based pin would miss it (silent duplicate
    // key on upsert, silent no-op on delete) and a colliding-value
    // legacy file that DID get pinned would have its rows rewritten
    // under the new spec while the era-scoped tombstone spared the
    // original (row duplication). Refuse fail-fast with the migration
    // path spelled out; deletes of legacy keys go through the era-aware
    // [[deleteRows]]. One metadata probe when single-era (the common
    // case), one bounded semi-join otherwise.
    val eraPred = col("spec").isNull || col("spec") === lit(partCol)
    val otherEra = pin(mdf, !eraPred).data
    if (otherEra.nonEmpty) {
      val hit = scanFiles(spark, table, otherEra, sch)
        .join(changes.select(keyCol), Seq(keyCol), "left_semi")
        .limit(1).count()
      require(hit == 0L,
        s"Snapshots.mergeRows: change batch touches keys living in " +
          s"files of another partition-spec era of $table — merge " +
          "cannot rewrite across eras. Migrate first (deleteRows the " +
          "keys era-aware, or commitFull to rewrite the table under " +
          s"'$partCol'), then re-apply the batch")
    }
    // matched-partition PROBE, key-range pruned: only files whose
    // keyCol stats overlap the batch's [min, max] can hold a changed
    // key, so the probe scans O(candidate files), not the table (the
    // MoR filter still applies — a partition whose only matching rows
    // are delete-suppressed must not be rewritten for them)
    val probe = scanPin(spark, table,
      pin(mdf, eraPred && keyRangePrune(changes, keyCol)), sch)
    val matched = probe
      .join(changes.select(keyCol), Seq(keyCol), "left_semi")
      .select(col(partCol).cast("string"))
    val landing = changes.where(col(opCol) =!= "D")
      .select(col(partCol).cast("string"))
    val affected = matched.unionByName(landing).distinct()
      .as[String].collect().sorted
    if (affected.isEmpty) return 0
    // pin the affected partitions' file set now — the merge plan reads
    // exactly these files however long it runs, and a concurrent commit
    // cannot make it see a mix (brand-new landing partitions have no
    // files yet; their rows come solely from the change batch). The pin
    // is ERA-SCOPED: a colliding-value other-era file must keep serving
    // its own era, not ride into this rewrite (the guard above ensures
    // no change key needs it).
    // MoR-filtered (the deleteRows rule): the merge rewrite's fresh
    // seq must not resurrect rows an active delete file suppresses; a
    // pure-insert batch pins no file and scans an empty frame
    val pinned0 = scanPin(spark, table,
      pin(mdf, eraPred && col("partition").isin(affected.toSeq: _*)), sch)
    val pinned = batchNew.foldLeft(pinned0)((df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType)))
    val merged = graft.operators.Merge
      .upsert(pinned, changes, keyCol, attrCols, opCol)
      .drop("merge_status")
    commitOverwritePartitions(merged, table, partCol, affected.toSeq,
      statsCols, expectedPrev = Some(baseV))
  }

  // ---- merge-on-read deletes -------------------------------------------
  //
  // The query-side dual of copy-on-write [[deleteRows]] (the Iceberg-v2
  // equality-delete shape): [[deleteRowsMoR]] commits a tiny KEY-SET
  // file instead of rewriting partitions — a 1-row CDC delete against a
  // 1 GB partition costs O(1 key), not O(partition rewrite). Reads
  // anti-join the accumulated delete keys (seq-scoped: a delete reaches
  // only data files committed BEFORE it, so re-inserts and folded
  // rewrites are immune), and [[compactDeletes]] folds the tombstones
  // away with the usual copy-on-write rewrite once they warrant it.

  /** Is this manifest row a merge-on-read delete file? */
  private def isDelete(kind: Column): Column =
    kind.isNotNull && kind.startsWith("delete:")

  /** Manifest KEY-RANGE prune for the copy-on-write probes
    * ([[deleteRows]] / [[mergeRows]] / [[compactDeletes]] all start by
    * scanning for partitions that hold an affected key): keep only
    * manifest rows whose recorded `keyCol` stats overlap the key
    * batch's [min, max] — a 1-key delete against a stats-covered table
    * probes O(candidate files), not the era (the 10⁷-file lens the
    * distributed vacuum adopted, applied to the CoW planning side).
    * Bounds are computed in the key's NATIVE type (numeric min, not
    * lexicographic-on-strings) and rendered as strings for the shared
    * decimal/lexicographic stat comparison ([[pruneColOpt]]), which
    * FAILS OPEN for rows without stats on `keyCol` — pruning is an IO
    * optimization, never a proof; the semi-join stays the decider. */
  private def keyRangePrune(keys: DataFrame, keyCol: String): Column = {
    val kb = keys.agg(min(col(keyCol)).cast("string"),
      max(col(keyCol)).cast("string")).head()
    if (kb.isNullAt(0)) lit(true)
    else pruneColOpt(keyCol, Option(kb.getString(0)),
      Option(kb.getString(1)))
  }

  /** One pinned file as the manifest records it: its path relative to
    * the table root, its seq (0 for pre-MoR entries), its kind, and its
    * recorded size and mtime (None before they were recorded). */
  private[graft] case class PinFile(path: String, seq: Int, kind: String,
      bytes: Option[Long], mtime: Option[Long]) {
    /** The key column of a merge-on-read delete file. */
    def delKey: String = kind.stripPrefix("delete:")
    def isDelete: Boolean = kind != null && kind.startsWith("delete:")
  }

  /** One operation's pinned file set: the data files its prune kept and
    * EVERY delete file of the version — a delete suppresses rows
    * wherever they live. `mdf` is the resolution the pin came from. */
  private[graft] case class Pin(mdf: DataFrame, data: Seq[PinFile],
      dels: Seq[PinFile])

  /** Manifest rows as pin entries; a driver-side manifest's are decoded
    * from the optimizer's local rows, so no query runs for them. */
  private def pinFiles(rows: DataFrame): Seq[PinFile] = {
    val enc = ExpressionEncoder[PinFile]()
    val ds = rows.select(col("path"), coalesce(col("seq"), lit(0)).as("seq"),
      col("kind"), col("bytes"), col("mtime")).as[PinFile](enc)
    ds.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        l.data.map(enc.resolveAndBind(l.output).createDeserializer())
      case _ => ds.collect().toSeq
    }
  }

  /** The one manifest pin behind every version-pinned read, write-side
    * probe and SQL scan: ONE targeted collect of (path, seq, kind, bytes,
    * mtime) over the data rows `keep` selects plus all delete rows. An
    * operation resolves [[manifestDF]] once and pins against that frame
    * as often as it needs; only the kept entries reach the driver, never
    * the full manifest. */
  private def pin(mdf: DataFrame, keep: Column): Pin = {
    val (del, data) = pinFiles(mdf.where(isDelete(col("kind")) || keep))
      .partition(_.isDelete)
    Pin(mdf, data, del)
  }

  /** Scan a [[Pin]] — the MoR read: its data files with every row its
    * delete files match suppressed (delete sets are small by contract
    * — that's what [[compactDeletes]] is for — so the anti-joins
    * broadcast and the scan never shuffles; with no delete active the
    * plain multi-file parquet scan comes back untouched). When the
    * prune kept no data file, an empty frame with the version's schema
    * (for a table that predates schema tracking, one limit-1 probe of
    * the pin's own resolution names a file to infer it from). */
  private[graft] def scanPin(spark: SparkSession, table: String, p: Pin,
      schema: Option[StructType]): DataFrame =
    if (p.data.isEmpty) {
      val one =
        if (schema.isDefined) Nil
        else pinFiles(p.mdf.where(!isDelete(col("kind"))).limit(1))
      scanFiles(spark, table, one, schema).where(lit(false))
    } else {
      import spark.implicits._
      val base = scanFiles(spark, table, p.data, schema)
      if (p.dels.isEmpty) base
      else morJoin(spark, table, base, p.data.toDF, p.dels, "left_anti")
    }

  /** Apply `dels` to `base` by each row's data-file seq, looked up in
    * the (`path`, `seq`) rows of `entries` by `_metadata.file_path` — an
    * attribute, so a filter above the read still reaches the scan's
    * file index: one broadcast join per delete key column, guarded by
    * `deleteSeq > dataSeq`. `anti` drops suppressed rows (the read);
    * semi keeps ONLY them (the fold's probe). An unmapped row reads as
    * seq 0, which every delete already exceeds for a file older than
    * all of them, so the map carries only files since the oldest delete.
    * Delete keys are read under their KNOWN schema (the key as the
    * version's type, `_delseq` int): no footer inference when planning. */
  private def morJoin(spark: SparkSession, table: String, base: DataFrame,
      entries: DataFrame, dels: Seq[PinFile], joinType: String)
      : DataFrame = {
    Seq("_grel", "_gseq", "_gdelkey", "_delseq").foreach(c =>
      require(!base.columns.contains(c),
        s"Snapshots: column name '$c' is reserved for merge-on-read " +
          "delete application"))
    // manifest-relative path = the LAST `data/c<version>/…` suffix of
    // the file URI (greedy `.*`): a root like /data/corpus/t would
    // mis-anchor a first-match, miss the seq join and over-apply
    // deletes to re-inserted keys. Partition values can't fake a match
    // (Spark escapes '/' in them); only the root can — hence LAST.
    val tagged = base
      .withColumn("_grel",
        regexp_extract(base.metadataColumn("_metadata")
          .getField("file_path"), "^.*/(data/c\\d+/.*)$", 1))
      .join(broadcast(entries.select(col("path").as("_grel"),
          coalesce(col("seq"), lit(0)).as("_gseq"))
        .where(col("_gseq") >= dels.map(_.seq).min)), Seq("_grel"),
        "left_outer")
    dels.groupBy(_.delKey).toSeq.sortBy(_._1)
      .foldLeft(tagged) { case (acc, (keyCol, files)) =>
        import org.apache.spark.sql.types._
        val keys = scanFiles(spark, table, files, Some(StructType(Seq(
            StructField(keyCol, acc.schema(keyCol).dataType),
            StructField("_delseq", IntegerType)))))
          .withColumnRenamed(keyCol, "_gdelkey")
        acc.join(broadcast(keys),
          acc(keyCol) === keys("_gdelkey") &&
            keys("_delseq") > coalesce(acc("_gseq"), lit(0)),
          joinType)
      }.drop("_grel", "_gseq")
  }

  /** Merge-on-read row delete: commit version `v` adds ONE key-set
    * parquet (the distinct `keys`, stamped with `_delseq = v`) and
    * rewrites NOTHING — the metadata-only delete a CDC-heavy 100 TB
    * table needs. Every read of v onward anti-joins the keys away;
    * time travel below v still sees them; a later re-insert of a
    * deleted key is visible (its file's seq exceeds the delete's).
    * Returns the new version, or 0 for an empty key set. Call
    * [[compactDeletes]] periodically to fold accumulated deletes into
    * a copy-on-write rewrite. */
  def deleteRowsMoR(spark: SparkSession, table: String, keyCol: String,
      keys: DataFrame): Int = {
    val prev = currentVersion(spark, table)
    require(prev >= 1, s"Snapshots: no initial commit under $table")
    val sch = schemaOf(spark, table, prev)
    require(sch.nonEmpty,
      s"Snapshots.deleteRowsMoR: $table predates schema tracking — " +
        "re-commit once (commitFull) to adopt it before using " +
        "merge-on-read deletes")
    require(sch.exists(_.fieldNames.contains(keyCol)),
      s"Snapshots.deleteRowsMoR: key column '$keyCol' not in v$prev's " +
        s"schema of $table")
    val v = prev + 1
    reserve(spark, table, v)
    val keyTyped = sch.map(_(keyCol).dataType)
      .map(t => keys.select(col(keyCol).cast(t))).getOrElse(
        keys.select(keyCol))
    val distinctKeys = keyTyped.distinct()
    if (distinctKeys.isEmpty) { breakReservation(spark, table, v); return 0 }
    val dir = s"data/c$v/_del"
    val delDf = distinctKeys.withColumn("_delseq", lit(v))
    delDf.coalesce(1).write.mode("overwrite").parquet(s"$table/$dir")
    // the key's footer min/max bounds [[compactDeletes]]' probe
    val keyStats = Seq(keyCol).filter(c =>
      footerStatsSafe(delDf.schema(c).dataType))
    val fresh = fileStats(spark, table, dir, keyStats,
      Some(org.apache.spark.sql.types.StructType(
        delDf.schema.fields.map(_.copy(nullable = true))))).map {
      case (rel, n, st, status) =>
        sized(FileEntry(rel, s"_del$v", n, st, Some("_del"),
          Some(s"delete:$keyCol"), Some(v)), status)
    }
    commitManifest(spark, table, v, prev, fresh, Nil, None)
    sch.foreach(writeSchema(spark, table, v, _))
    partSpecOf(spark, table, prev)
      .foreach(writePartSpec(spark, table, v, _))
    publish(spark, table, v)
    v
  }

  /** Fold accumulated merge-on-read deletes into the data: rewrite the
    * affected partitions copy-on-write FROM THE MoR-FILTERED VIEW (one
    * [[commitOverwritePartitions]] — the rewritten files' seq then
    * exceeds every delete's, making the delete files inert), then drop
    * the delete files in a second, metadata-only commit. Crash-safe in
    * between: inert delete files change no answer, and a re-run just
    * drops them. Returns rewritten partition count (0 = nothing to
    * fold). Single-spec tables only (the CoW rewrite commits under
    * `partCol`); spec-evolved tables fold with [[deleteRows]] per era
    * first. */
  def compactDeletes(spark: SparkSession, table: String, partCol: String,
      statsCols: Seq[String] = Nil): Int = {
    import spark.implicits._
    val baseV = currentVersion(spark, table)
    val mdf = manifestDF(spark, table, baseV)
    // the fold commits under `partCol` for EVERY affected file, so a
    // legacy-era file (different spec) would be rewritten under the
    // wrong spec while its era-scoped tombstone spares the original —
    // row duplication, then the delete-file drop resurrects whatever
    // the legacy files still suppressed. Refuse instead (the dual of
    // mergeRows' era guard); spec-evolved tables fold per era with
    // [[deleteRows]] first. The era check rides the pin that collects
    // the delete files: its data side is exactly the other-era files
    // (none on a single-spec table), so no second probe runs
    val probe = pin(mdf, !isDelete(col("kind")) &&
      col("spec").isNotNull && col("spec") =!= partCol)
    val dels = probe.dels
    if (dels.isEmpty) return 0
    val noForeign = probe.data.isEmpty
    require(noForeign,
      s"Snapshots.compactDeletes: $table@v$baseV holds files from a " +
        s"partition-spec era other than '$partCol' — fold " +
        "spec-evolved tables with deleteRows per era first")
    val sch = schemaOf(spark, table, baseV)
    // partitions still holding a row a delete suppresses = the fold
    // set. One seq-guarded SEMI-join per delete KEY COLUMN, unioned:
    // a row is suppressed when ANY key column's deletes match it, so
    // the affected set is the UNION across key columns — chaining the
    // semi-joins (as the anti-join read path correctly does) would
    // intersect them and the delete-file drop below would resurrect
    // rows only one key column suppressed. Each group's probe is
    // key-range pruned against the manifest stats (fails open), so a
    // handful of tombstoned keys probe O(candidate files), not the
    // table: a file survives when its stats overlap ANY delete file's
    // recorded key range (no aggregate over the keys; a delete file
    // without one keeps every file).
    val delStats = mdf.where(isDelete(col("kind")))
      .select(col("path"), col("stats")).as[(String, Map[String, StatRange])]
      .collect().toMap
    val affected = dels.groupBy(_.delKey).toSeq.sortBy(_._1)
      .map { case (kc, files) =>
        val keep = files.map { d =>
          val r = delStats(d.path).get(kc)
          pruneColOpt(kc, r.flatMap(x => Option(x.lo)),
            r.flatMap(x => Option(x.hi)))
        }.reduce(_ || _)
        val pruned = pin(mdf, keep).data
        if (pruned.isEmpty)
          spark.emptyDataset[String].toDF("_gpart")
        else
          morJoin(spark, table, scanFiles(spark, table, pruned, sch),
            pruned.toDF, files, "left_semi")
            .select(col(partCol).cast("string").as("_gpart"))
      }
      .reduce(_.unionByName(_)).distinct()
      .as[String].collect().sorted
    var expect = baseV
    if (affected.nonEmpty) {
      // rewrite scan pinned to the AFFECTED partitions' files (the
      // single-spec guard above makes manifest partition values
      // caller-spec, so the pin is exact); the residual row filter
      // stays as belt-and-braces
      val mine = pin(mdf, col("partition").isin(affected.toSeq: _*))
      val kept = scanPin(spark, table, mine, sch)
        .where(col(partCol).cast("string").isin(affected.toSeq: _*))
      expect = commitOverwritePartitions(kept, table, partCol,
        affected.toSeq, statsCols, expectedPrev = Some(expect))
    }
    // metadata-only drop of the (now inert) delete files: tombstone
    // their unique `_del<v>` partitions under the reserved `_del` spec.
    // OCC makes `prev` baseV or our own fold, which tombstoned only
    // `partCol`-era partitions — so baseV's delete partitions are
    // exactly prev's
    val prev = currentVersion(spark, table)
    val v = prev + 1
    reserve(spark, table, v)
    if (expect != prev) { // a foreign commit slipped in: OCC refusal
      breakReservation(spark, table, v)
      throw new ConcurrentCommitException(table, v)
    }
    val delParts = mdf.where(isDelete(col("kind"))).select("partition")
      .distinct().as[String].collect().toSeq.sorted
    commitManifest(spark, table, v, prev, Nil, delParts, Some("_del"))
    schemaOf(spark, table, prev).foreach(writeSchema(spark, table, v, _))
    partSpecOf(spark, table, prev)
      .foreach(writePartSpec(spark, table, v, _))
    publish(spark, table, v)
    affected.length
  }

  // ---- reads ----------------------------------------------------------

  /** A pinned file set as Spark's file index, and the ONE place a read
    * decides its files: Spark hands every file scan's filters to
    * `listFiles`, and `select` gets those `translateFilter` can express.
    * A version's index pins its manifest frame AND their [[pruneFilter]]
    * predicate there; a write-side probe's ignores them. Listings are
    * memoized per filter set (a plan can hold a scan twice; AQE
    * re-plans). `inputFiles` and `sizeInBytes` describe the UNFILTERED
    * set; a plan-side manifest is never listed whole (default size,
    * equality by `id`: table and version, or a fixed pin's paths). One
    * partition directory of statuses from the recorded sizes. */
  private[graft] final class PinnedFileIndex(spark: SparkSession,
      table: String, private val id: Any, planSide: Boolean,
      select: Seq[org.apache.spark.sql.sources.Filter] => Seq[PinFile])
      extends org.apache.spark.sql.execution.datasources
        .PartitioningAwareFileIndex(spark, Map.empty, None) {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.datasources.{PartitionDirectory, PartitionSpec}
    import org.apache.spark.sql.sources.Filter
    private val listed = scala.collection.mutable.HashMap
      .empty[Set[Filter], (Seq[PinFile], Seq[FileStatus])]
    private def listing(filters: Seq[Filter]) = synchronized {
      listed.getOrElseUpdate(filters.toSet, {
        val files = select(filters)
        (files, statusesOf(spark, table, files))
      })
    }
    /** The pinned data files that could hold a row passing `filters`. */
    def files(filters: Seq[Filter]): Seq[PinFile] = listing(filters)._1
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        listing(dataFilters.flatMap(
          org.apache.spark.sql.GraftSqlBridge.translateFilter))._2.toArray))
    override def allFiles(): Seq[FileStatus] = listing(Nil)._2
    override def sizeInBytes: Long =
      if (planSide) spark.sessionState.conf.defaultSizeInBytes
      else super.sizeInBytes
    override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
    override protected def leafFiles =
      scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    override protected def leafDirToChildrenFiles
        : Map[Path, Array[FileStatus]] = Map.empty
    override val rootPaths: Seq[Path] =
      Seq(fs(spark, table).makeQualified(new Path(table)))
    override def refresh(): Unit = ()
    override def equals(o: Any): Boolean = o match {
      case p: PinnedFileIndex => id == p.id
      case _ => false
    }
    override def hashCode: Int = id.hashCode
  }

  /** `t` with every field, element and value nullable — what a file
    * scan reports whatever the schema it was handed says. */
  private def nullable(t: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), true)
      case m: MapType =>
        MapType(nullable(m.keyType), nullable(m.valueType), true)
      case other => other
    }
  }

  /** Qualified statuses from the manifest's recorded `bytes`/`mtime`
    * (entries written before they were recorded are statted on the
    * driver pool): the paths and sizes `spark.read.parquet` would use. */
  private def statusesOf(spark: SparkSession, table: String,
      files: Seq[PinFile]): Seq[FileStatus] = {
    val f = fs(spark, table)
    def qualified(rel: String): Path =
      f.makeQualified(new Path(s"$table/$rel"))
    val blockSize = f.getDefaultBlockSize(qualified(""))
    val statted: Map[String, FileStatus] =
      parMapFiles(files.filter(e => e.bytes.isEmpty || e.mtime.isEmpty)) {
        e => e.path -> f.getFileStatus(qualified(e.path))
      }.toMap
    files.map { e =>
      (e.bytes, e.mtime) match {
        case (Some(n), Some(t)) =>
          new FileStatus(n, false, 1, blockSize, t, qualified(e.path))
        case _ => statted(e.path)
      }
    }.filter(_.getLen > 0) // Spark's index skips empty files too
  }

  /** The footer schema of pinned files, for a table that predates
    * schema tracking (Spark's inference rules). */
  private def inferSchema(spark: SparkSession, table: String,
      files: Seq[PinFile], merge: Boolean): StructType =
    new ParquetFileFormat().inferSchema(spark,
        Map("mergeSchema" -> merge.toString), statusesOf(spark, table, files))
      .getOrElse(throw new IllegalStateException(
        s"Snapshots: cannot infer a schema for the pinned files of $table"))

  /** THE scan of table data: parquet over a [[PinnedFileIndex]] under
    * the version's recorded schema, made nullable — the reader
    * null-fills columns an older file lacks, and time travel returns
    * exactly that version's columns. */
  private def scanIndex(spark: SparkSession, index: PinnedFileIndex,
      schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      nullable(schema).asInstanceOf[StructType], None,
      new ParquetFileFormat(), Map.empty)(spark))

  /** [[scanIndex]] over a fixed file list: a probe's pin, delete keys, a
    * commit's own files. No schema: inferred from the same files. */
  private def scanFiles(spark: SparkSession, table: String,
      files: Seq[PinFile], schema: Option[StructType]): DataFrame = {
    require(files.nonEmpty || schema.isDefined,
      s"Snapshots: empty file set under $table")
    scanIndex(spark, new PinnedFileIndex(spark, table,
        (table, files.map(_.path).toSet), planSide = false, _ => files),
      schema.getOrElse(inferSchema(spark, table, files, merge = false)))
  }

  /** Version `v` pinned as one relation: an index pruning its manifest
    * frame by each scan's filters, its scan schema, and every delete
    * file (collected now: the delete anti-join is part of the plan). */
  private[graft] case class Pinned(mdf: DataFrame, index: PinnedFileIndex,
      schema: StructType, dels: Seq[PinFile])

  private[graft] def pinned(spark: SparkSession, table: String, v: Int)
      : Pinned = {
    val mdf = manifestDF(spark, table, v)
    val data = !isDelete(col("kind"))
    // driver-side: every entry now; only a pruning listing reads it again
    val all = Option.when(
      mdf.queryExecution.logical.isInstanceOf[LocalRelation])(pinFiles(mdf))
    val index = new PinnedFileIndex(spark, table,
      (fs(spark, table).makeQualified(new Path(table)).toString, v),
      all.isEmpty, filters =>
        (filters.flatMap(pruneFilter).reduceOption(_ && _), all) match {
          case (None, Some(files)) => files.filterNot(_.isDelete)
          case (keep, _) =>
            pinFiles(mdf.where(data && keep.getOrElse(lit(true))))
        })
    // pre-tracking table: the first data file by path, as Spark infers
    val schema = schemaOf(spark, table, v).getOrElse(inferSchema(spark,
      table, pinFiles(mdf.where(data).orderBy("path").limit(1)),
      merge = false))
    Pinned(mdf, index, nullable(schema).asInstanceOf[StructType],
      all.fold(pinFiles(mdf.where(isDelete(col("kind")))))(
        _.filter(_.isDelete)))
  }

  /** Read as of a PINNED version: the manifest is resolved here, once,
    * so the returned frame keeps answering with version `v`'s rows no
    * matter how many commits land afterwards. Filters above the frame
    * reach its file index, which prunes the manifest by them when the
    * scan is planned. Merge-on-read delete files of `v` are applied by
    * the seq-guarded anti-join ([[morJoin]]); versions without deletes
    * read as the plain multi-file scan. */
  def readAsOf(spark: SparkSession, table: String, v: Int): DataFrame = {
    val p = pinned(spark, table, v)
    val base = scanIndex(spark, p.index, p.schema)
    if (p.dels.isEmpty) base
    else morJoin(spark, table, base, p.mdf.where(!isDelete(col("kind"))),
      p.dels, "left_anti")
  }

  /** Read the latest snapshot — pinned at CALL time (the manifest is
    * resolved now), so a concurrent commit cannot make this frame see
    * a mix of two versions. */
  def read(spark: SparkSession, table: String): DataFrame =
    readAsOf(spark, table, currentVersion(spark, table))

  /** Incremental consumption — rows ADDED between two versions, found
    * by manifest diff: scan exactly the files in version `toV`'s
    * manifest that `fromV`'s lacks, nothing else. An incremental
    * consumer at 100 TB reads only the delta, not the table.
    *
    * Semantics (the Iceberg incremental-append contract): appended
    * files surface their rows once; a partition OVERWRITE surfaces the
    * partition's full new file set (the consumer sees it as a
    * refreshed partition — removed rows are not subtracted, this is an
    * append-stream view, not a row-level CDC diff; row-level deltas
    * are [[graft.streaming.CdcView]]'s job). */
  def readChanges(spark: SparkSession, table: String, fromV: Int,
      toV: Int): DataFrame = {
    require(fromV >= 0 && fromV <= toV,
      s"Snapshots.readChanges: need 0 <= fromV <= toV, got $fromV..$toV")
    val to = manifestDF(spark, table, toV)
    // the version diff is a left-outer join INSIDE the plan — neither
    // manifest materializes on the driver, only the added paths do.
    // Merge-on-read DELETE files are metadata, not rows: they never
    // surface in the append stream, and ALL of `toV`'s deletes apply
    // to the added data files (a key appended then MoR-deleted inside
    // the range is not "added" at toV) — the pin keeps every delete
    val flagged =
      if (fromV == 0) to.withColumn("_new", lit(true))
      else to.join(manifestDF(spark, table, fromV)
          .select(col("path"), lit(true).as("_old")),
          Seq("path"), "left_outer")
        .withColumn("_new", col("_old").isNull)
    scanPin(spark, table, pin(flagged, col("_new")),
      schemaOf(spark, table, toV))
  }

  /** Row-level diff between two versions: (added, removed) frames via
    * null-safe anti-joins on `keyCols` (use the full column list for
    * whole-row semantics, or the primary key + changed columns for
    * keyed tables). File-level [[readChanges]] is the cheap incremental
    * path; this is the audit path — "exactly which rows did the rewrite
    * change" — and it scans only the two manifests' file sets. */
  def diff(spark: SparkSession, table: String, fromV: Int, toV: Int,
      keyCols: Seq[String]): (DataFrame, DataFrame) = {
    require(keyCols.nonEmpty, "Snapshots.diff: keyCols must be non-empty")
    val a = readAsOf(spark, table, fromV)
    val b = readAsOf(spark, table, toV)
    def anti(left: DataFrame, right: DataFrame): DataFrame = {
      val l = left.alias("l")
      val r = right.alias("r")
      val on = keyCols.map(c => col(s"l.$c") <=> col(s"r.$c"))
        .reduce(_ && _)
      l.join(r, on, "left_anti")
    }
    (anti(b, a), anti(a, b)) // (added in toV, removed since fromV)
  }

  /** Table history — the DESCRIBE HISTORY equivalent: one row per
    * retained version with commit wall-clock, file count, row count,
    * and touched partitions (diffed against the previous retained
    * manifest). Driver-side metadata only. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, table)
    val cur = currentVersion(spark, table)
    // graced below-floor dirs may linger (vacuum's one-cycle grace);
    // they are vacuumed, not retained
    val retained = (retentionFloor(spark, table) to cur).filter(v =>
      f.exists(new Path(manifestDir(table, v))))
    // per-version counts aggregate INSIDE the plan; the driver sees one
    // summary row plus the touched-partition list (bounded by the
    // partition count, not the file count) per version
    val rows = retained.map { v =>
      val m = manifestDF(spark, table, v)
      val summary = m.agg(count(lit(1)).as("nf"),
        coalesce(sum(col("rows")), lit(0L)).as("nr")).head()
      val fresh = retained.filter(_ < v).lastOption match {
        case Some(p) => m.join(
          manifestDF(spark, table, p).select("path"), Seq("path"),
          "left_anti")
        case None => m
      }
      val touched = fresh.select("partition").distinct()
        .as[String].collect().sorted
      (v, f.getFileStatus(new Path(manifestDir(table, v)))
        .getModificationTime, summary.getLong(0), summary.getLong(1),
        touched.mkString(","))
    }
    rows.toDF("version", "commit_ms", "n_files", "n_rows",
      "touched_partitions")
  }

  /** Highest version published at or before `tsMillis` (wall-clock time
    * travel — "what did the dashboard show yesterday 09:00"). Commit
    * time is the manifest dir's filesystem mtime: set when the manifest
    * finished writing, immediately before the pointer publish, and
    * never touched again — no clock is stored in the data path. */
  def versionAsOfTime(spark: SparkSession, table: String, tsMillis: Long)
      : Int = {
    val f = fs(spark, table)
    val vs = (retentionFloor(spark, table) to
        currentVersion(spark, table)).filter { v =>
      val p = new Path(manifestDir(table, v))
      f.exists(p) && f.getFileStatus(p).getModificationTime <= tsMillis
    }
    require(vs.nonEmpty,
      s"Snapshots: no version of $table existed at epoch-ms $tsMillis " +
        "(or its manifest was vacuumed)")
    vs.max
  }

  def readAsOfTime(spark: SparkSession, table: String, tsMillis: Long)
      : DataFrame =
    readAsOf(spark, table, versionAsOfTime(spark, table, tsMillis))

  // ---- manifest-level stats pruning -----------------------------------

  /** Plan-side survival predicate for one column range over manifest
    * rows, either bound optional: numeric stats compare in
    * DECIMAL(38,18) — covers the full long range exactly (19 integer
    * digits + 18 fractional ≤ 38); a magnitude that overflows the
    * cast yields NULL and the file is
    * conservatively KEPT, as is any sub-1e-18 distinction the scale
    * rounds away (rounding is monotone, so collapsing toward equality
    * only ever widens the kept set — pruning can lose a sliver of
    * sharpness in pathological ranges, never a row). Strings / dates /
    * timestamps compare lexicographically (ISO order = value order).
    * Files with no stats for the column, or all-null stats, are kept.
    * Filtered reads reach it through [[pruneFilter]], one bound per
    * `>=`/`<=` (their conjunction is the two-sided overlap, so
    * [[readRange]] and SQL `BETWEEN` keep the same files). */
  private[graft] def pruneColOpt(c: String, lo: Option[String],
      hi: Option[String]): Column = {
    val st = col("stats").getItem(c)
    val typ = st.getField("typ")
    val flo = st.getField("lo")
    val fhi = st.getField("hi")
    val numeric = typ.isin("byte", "short", "integer", "long",
      "float", "double") || typ.startsWith("decimal")
    val dec = "decimal(38,18)"
    val numOv = lo.map(l => fhi.cast(dec) >= lit(l).cast(dec))
      .getOrElse(lit(true)) &&
      hi.map(h => flo.cast(dec) <= lit(h).cast(dec)).getOrElse(lit(true))
    val strOv = lo.map(l => fhi >= lit(l)).getOrElse(lit(true)) &&
      hi.map(h => flo <= lit(h)).getOrElse(lit(true))
    st.isNull || flo.isNull || fhi.isNull ||
      coalesce(when(numeric, numOv).otherwise(strOv), lit(true))
  }

  /** Stringify one pushed-filter comparison value into the stats
    * comparison domain — None for types whose `toString` does not match
    * Spark's `cast(string)` of the column (timestamps; anything exotic),
    * which keeps pruning CONSERVATIVE: an untranslatable value prunes
    * nothing rather than mis-pruning a boundary file. */
  private def statLit(v: Any): Option[String] = v match {
    case null => None
    case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
         _: java.lang.Byte | _: java.lang.Float | _: java.lang.Double |
         _: java.math.BigDecimal | _: java.lang.Boolean => Some(v.toString)
    case s: String => Some(s)
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case _ => None
  }

  /** THE filter→manifest translation, for each filter a scan hands a
    * [[PinnedFileIndex]] — None when it cannot prune (the file is kept;
    * the residual filter keeps answers exact). Equality on a column
    * some files were PARTITIONED by (`spec`) prunes those by their
    * exact partition value, other files by stats: `WHERE day = 'x'` is
    * directory-exact even when `day` has no stats ([[readPartition]]). */
  private def pruneFilter(f: org.apache.spark.sql.sources.Filter)
      : Option[Column] = {
    import org.apache.spark.sql.sources._
    def eq(c: String, v: Any): Option[Column] = statLit(v).map { s =>
      // 3VL care: a legacy file's spec is NULL — it must land in the
      // stats branch, never be dropped by a null-valued comparison
      val sameEra = col("spec").isNotNull && col("spec") === lit(c)
      (sameEra && col("partition") === lit(s)) ||
        (!sameEra && pruneColOpt(c, Some(s), Some(s)))
    }
    f match {
      case EqualTo(c, v) => eq(c, v)
      case EqualNullSafe(c, v) if v != null => eq(c, v)
      case In(c, vs) =>
        val preds = vs.toSeq.map(v => eq(c, v))
        if (preds.isEmpty || preds.exists(_.isEmpty)) None
        else Some(preds.flatten.reduce(_ || _))
      case GreaterThan(c, v) =>
        statLit(v).map(s => pruneColOpt(c, Some(s), None))
      case GreaterThanOrEqual(c, v) =>
        statLit(v).map(s => pruneColOpt(c, Some(s), None))
      case LessThan(c, v) =>
        statLit(v).map(s => pruneColOpt(c, None, Some(s)))
      case LessThanOrEqual(c, v) =>
        statLit(v).map(s => pruneColOpt(c, None, Some(s)))
      case And(l, r) =>
        (pruneFilter(l), pruneFilter(r)) match {
          case (Some(a), Some(b)) => Some(a && b)
          case (a, b) => a.orElse(b) // one side still prunes
        }
      case Or(l, r) => // both sides must prune, else keep everything
        for (a <- pruneFilter(l); b <- pruneFilter(r)) yield a || b
      case _ => None
    }
  }

  /** Files of version `v` that COULD hold rows with `c` in [lo, hi] —
    * decided from manifest stats alone, no footer opened, and filtered
    * INSIDE the manifest plan: the driver materializes only the
    * surviving entries, never the full file list. */
  def prunedFiles(spark: SparkSession, table: String, v: Int, c: String,
      lo: String, hi: String): Seq[FileEntry] = {
    import spark.implicits._
    manifestDF(spark, table, v).where(pruneColOpt(c, Some(lo), Some(hi)))
      .as[FileEntry].collect().toSeq
  }

  // The reads below are plain filters over [[read]], whose file index
  // prunes the manifest by them; they stay as the exact residual.

  /** Rows with `c` in [lo, hi], values cast to the column's type. */
  def readRange(spark: SparkSession, table: String, c: String,
      lo: String, hi: String): DataFrame = {
    val df = read(spark, table)
    val t = df.schema(c).dataType
    df.where(col(c) >= lit(lo).cast(t) && col(c) <= lit(hi).cast(t))
  }

  /** Rows whose `partCol` renders as `value`: directory-exact for files
    * partitioned by `partCol`, stats-pruned for other eras (legacy data
    * serves unrewritten — the economics of spec evolution). The typed
    * equality is what the index can translate for a non-string column;
    * the string equality keeps the rows exact. */
  def readPartition(spark: SparkSession, table: String, partCol: String,
      value: String): DataFrame = {
    val df = read(spark, table)
    df.where(col(partCol).cast("string") === value &&
      col(partCol) === lit(value).try_cast(df.schema(partCol).dataType))
  }

  /** Rows with `c` in a set of values — ONE manifest resolution and one
    * scan for the whole set (a file survives when its stats overlap
    * ANY value), row-for-row the union of one [[readRange]] per value:
    * the per-cell loop it replaced cost ~8 manifest resolutions (≈0.15 s
    * driver gap each) per IVF serve at sf0.1. */
  def readIn(spark: SparkSession, table: String, c: String,
      values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "Snapshots.readIn: no values given")
    val df = read(spark, table)
    val t = df.schema(c).dataType
    df.where(values.map(x => col(c) === lit(x).cast(t)).reduce(_ || _))
  }

  /** Register the CURRENT snapshot as a temp view so `spark.sql` works
    * over the table. Pinned at registration time (the snapshot
    * contract): re-register to advance to a newer version. */
  def registerView(spark: SparkSession, table: String, name: String)
      : Unit =
    read(spark, table).createOrReplaceTempView(name)

  // ---- retention ------------------------------------------------------

  /** Drop history: publish `retainFrom` as the retention floor, delete
    * every data file no retained manifest references, and delete
    * below-floor manifest DIRS one vacuum cycle late (grace period).
    * Time travel to vacuumed versions fails with a clear error the
    * moment the floor publishes; [[read]] and all retained versions
    * are untouched. Returns deleted data-file count.
    *
    * Why the grace period: a reader that resolved a retained delta
    * version's chain JUST BEFORE this vacuum's re-checkpoint holds a
    * lazy plan ([[manifestDF]] is the documented lazy planning surface)
    * referencing checkpoint/delta parquet in below-floor dirs. Deleting
    * those dirs in the same call would fail that reader at action time
    * with FILE_NOT_EXIST — the readers-safe-during-rewrites contract
    * broken at the metadata layer. Instead each vacuum deletes only the
    * dirs below the PREVIOUS vacuum's floor: any plan referencing them
    * resolved before that floor published and has had a full vacuum
    * cycle to finish — the same retention-vs-longest-reader sizing rule
    * the data files already follow. New resolutions of graced versions
    * are refused by the floor check in [[manifestDF]], so the lingering
    * dirs serve only in-flight plans, never fresh reads of versions
    * whose data files this call reclaims. */
  def vacuum(spark: SparkSession, table: String, retainFrom: Int): Int = {
    val f = fs(spark, table)
    val cur = currentVersion(spark, table)
    require(retainFrom <= cur,
      s"Snapshots.vacuum: retainFrom=$retainFrom > current=$cur")
    // floors never regress: versions below an already-published floor
    // are gone or graced, so a lower retainFrom cannot resurrect them
    val prevFloor = retentionFloor(spark, table)
    // tags are retention promises: the floor CLAMPS to the lowest
    // tagged version, so a vacuum can never reclaim a version a ref
    // still pins (delete the tag to release it). Tagging below the
    // floor is refused at tag time, so minTag >= prevFloor always and
    // the clamp cannot regress the floor.
    val minTag = listRefs(spark, table).map(_._2)
      .minOption.getOrElse(Int.MaxValue)
    val floor = math.max(prevFloor, math.min(retainFrom, minTag))
    // retention-floor compaction: if the floor version is a delta, its
    // chain resolves through manifests scheduled for deletion —
    // materialize it as a checkpoint IN PLACE first (later deltas
    // re-base onto it automatically, because the base is found by
    // walking, never stored). `_applied_*` markers and the dir mtime
    // (versionAsOfTime's clock) are preserved across the rewrite.
    if (floor >= 1 && f.exists(new Path(manifestDir(table, floor)))
        && readDeltaMeta(spark, table, floor).isDefined) {
      val dir = new Path(manifestDir(table, floor))
      val mtime = f.getFileStatus(dir).getModificationTime
      // A crash between the `_ckpt_<id>` parquet write and the pointer
      // rename strands both the subdir and a `_ckpt_ptr.tmp*` file in a
      // RETAINED dir forever (later vacuums mint fresh ids and never
      // revisit). Sweep that debris first: in this branch no pointer is
      // published (readDeltaMeta would have returned None), so every
      // `_ckpt_*` entry is an orphan no reader ever resolved to.
      f.listStatus(dir).foreach { st =>
        if (st.getPath.getName.startsWith("_ckpt_"))
          f.delete(st.getPath, true)
      }
      // Immutable re-checkpoint (see [[ckptPtrPath]]): materialize the
      // resolved set into a fresh `_ckpt_<id>` subdir, then publish it
      // with ONE atomic rename of the pointer file. Nothing an
      // in-flight reader planned against is deleted or renamed — the
      // previous delete-the-dir-and-rename swap raced concurrent scans
      // of this RETAINED version to FILE_NOT_EXIST. The superseded
      // delta files stay (bounded: one commit's worth) until the whole
      // dir drops below a later retention floor. `_applied_*` markers
      // and the dir mtime (versionAsOfTime's clock) are untouched by
      // construction; only the mtime needs restoring after the child
      // writes bump it.
      val id = java.util.UUID.randomUUID().toString.substring(0, 8)
      manifestDF(spark, table, floor).coalesce(1)
        .write.mode("overwrite")
        .parquet(new Path(dir, s"_ckpt_$id").toString)
      val tmp = new Path(dir, s"_ckpt_ptr.tmp$id")
      val out = f.create(tmp, true)
      try out.write(id.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      require(f.rename(tmp, ckptPtrPath(table, floor)),
        s"Snapshots.vacuum: failed to publish the v$floor " +
          s"re-checkpoint pointer of $table")
      f.setTimes(dir, mtime, -1)
    }
    // floor publishes BEFORE any deletion: from this instant fresh
    // resolutions of below-floor versions fail cleanly, while in-flight
    // plans keep their graced manifest dirs for one more cycle
    publishFloor(spark, table, floor)
    SegmentCache.evictBelow(f.makeQualified(new Path(table)).toString,
      floor)
    (1 until prevFloor).foreach(v =>
      f.delete(new Path(manifestDir(table, v)), true))
    val dataRoot = new Path(table, "data")
    if (!f.exists(dataRoot)) return 0
    // DISTRIBUTED reclaim planning (the 10⁷-file lens): the live set is
    // a PLAN — the union of retained manifests' path columns — never a
    // driver Set (a 100 TB table's live paths are GBs of strings); the
    // listing fans out over commit dirs on executors; the delete set is
    // their anti-join, and the deletes themselves run foreachPartition
    // so the only driver state is the accumulator count. Commit dirs
    // ABOVE `cur` are an IN-FLIGHT writer's (the reserved slot's data
    // lands before its manifest publishes) and are skipped WHOLESALE at
    // dir enumeration — one O(versions) driver listing: their files are
    // unreferenced by every retained manifest yet must be SPARED, and
    // even LISTING them races the job committer's `_temporary` churn
    // (both measured by the soak spec's writer×vacuum interleaving). A
    // later vacuum judges them normally. Retained dirs' contents are
    // immutable, so their walks are churn-free; a racing surprise skips
    // that dir for this cycle (conservative — reclaimed next time).
    import spark.implicits._
    val liveDF = (floor to cur)
      .filter(v => f.exists(new Path(manifestDir(table, v))))
      .map(v => manifestDF(spark, table, v).select("path"))
      .reduce(_.unionByName(_)).distinct()
    val eligible = f.listStatus(dataRoot)
      .filter(_.isDirectory)
      .filter { d =>
        val n = d.getPath.getName
        !n.startsWith("c") ||
          scala.util.Try(n.drop(1).toInt).toOption.forall(_ <= cur)
      }
      .map(_.getPath.toString).toSeq
    if (eligible.isEmpty) return 0
    // executors rebuild FileSystem from a BROADCAST of the session's
    // full Hadoop configuration (SerializableConfiguration) — a bare
    // `new Configuration()` would drop every spark.hadoop.* override
    // (S3 credentials, fs.defaultFS), every listing would fail, and
    // the swallow-to-Nil guard would report "0 reclaimed" with no
    // diagnostic. Listing failures are now also COUNTED and surfaced
    // in a warning so a misconfigured deployment is loud, not silent.
    // Manifest-relative paths are derived by stripping the table
    // root's QUALIFIED prefix (both sides come from Path.toString on
    // the same FS, so they agree) — never by searching for a literal
    // 'data/c' substring, which a root like /data/corpus/t defeats:
    // the rel path would then never match the manifest's, the
    // anti-join would mark LIVE files unreferenced, and vacuum would
    // delete current data. A\u0001 separator packs
    // (full, rel) through one string column
    val rootPrefix = f.makeQualified(new Path(table)).toString
      .stripSuffix("/") + "/"
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val listFailures =
      spark.sparkContext.longAccumulator("graft.vacuum.listFailures")
    val listed = spark.createDataset(eligible)
      .repartition(math.min(eligible.size, 32))
      .flatMap { dir =>
        try {
          val p = new org.apache.hadoop.fs.Path(dir)
          val efs = p.getFileSystem(bcConf.value.value)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          val it = efs.listFiles(p, true)
          while (it.hasNext) {
            val st = it.next()
            if (st.isFile) {
              val full = st.getPath.toString
              val rel =
                if (full.startsWith(rootPrefix))
                  full.substring(rootPrefix.length)
                else full
              if (rel.endsWith(".parquet"))
                out += full + "\u0001" + rel
            }
          }
          out.toSeq
        } catch {
          case scala.util.control.NonFatal(_) =>
            listFailures.add(1L); Nil
        }
      }
      .map { s =>
        val i = s.indexOf('\u0001'); (s.take(i), s.drop(i + 1))
      }
      .toDF("_full", "path")
    val acc = spark.sparkContext.longAccumulator("graft.vacuum.deleted")
    listed.join(liveDF, Seq("path"), "left_anti")
      .select(col("_full")).as[String]
      .foreachPartition { (it: Iterator[String]) =>
        val conf = bcConf.value.value
        it.foreach { full =>
          try {
            val p = new org.apache.hadoop.fs.Path(full)
            if (p.getFileSystem(conf).delete(p, false)) acc.add(1L)
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    if (listFailures.value > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Snapshots.vacuum($table): ${listFailures.value} commit-dir " +
          "listings failed on executors (check executor Hadoop/FS " +
          "configuration) — their files were conservatively spared")
    acc.value.toInt
  }
}
