package graft.sources

import java.nio.charset.StandardCharsets
import java.util

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, EqualTo, Filter, In, Or, TableScan}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.Snapshots

/** SQL/catalog surface over [[graft.io.Snapshots]] — the DataSourceV2
  * `TableCatalog` that turns the engine's flagship store from a
  * library-only API into `spark.sql` tables, the same query layer the
  * reference exposes through its Glue/Athena catalog (reference
  * `sql/athena/curated_events.sql:1-14` — `CREATE EXTERNAL TABLE` +
  * `MSCK REPAIR` + audit queries over it), upgraded with the snapshot
  * store's versioning:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.SnapshotCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/warehouse")
  *   spark.sql("SELECT * FROM graft.events")                  // current
  *   spark.sql("SELECT * FROM graft.events VERSION AS OF 3")  // pinned
  *   spark.sql("SELECT * FROM graft.events VERSION AS OF 'train-2026'")
  *   spark.sql("SELECT * FROM graft.events TIMESTAMP AS OF '…'")
  *   spark.sql("DELETE FROM graft.events WHERE user_id IN (7, 9)")
  *   spark.sql("CREATE TABLE graft.tmp.t PARTITIONED BY (d) AS SELECT …")
  * }}}
  *
  * A table named `ns.t` resolves to the snapshot table at
  * `$root/ns/t`; `VERSION AS OF` takes a version number or a named ref
  * ([[Snapshots.tag]]), `TIMESTAMP AS OF` routes through
  * [[Snapshots.versionAsOfTime]]. Each loaded table PINS its version
  * at resolution (the snapshot read contract): concurrent commits
  * never make one query see two versions. All existence probes route
  * through the Hadoop `FileSystem` of the root (never `java.io.File`),
  * so the catalog works wherever the store does — local, HDFS, S3A.
  *
  * Scan planning is the library's own, with no second route: a loaded
  * table pins its version ONCE ([[Snapshots.pinned]]) and hands its
  * [[Snapshots.PinnedFileIndex]] to Spark's vectorized parquet scan
  * (`ParquetScanBuilder`). Spark passes the scan's filters to the index
  * when it lists files, and the index prunes the MANIFEST by them
  * (stats + era-aware partition values), exactly as
  * `Snapshots.readAsOf(v).where(...)` does (SnapshotCatalogSpec pins
  * set-equality with [[Snapshots.readRange]]). So pruning happens when
  * the scan is PLANNED: `inputFiles` and the size estimate name the
  * whole version, and on a plan-side manifest (over 2 MB) only pruned
  * entries reach the driver. Filters stay residual: pruning cuts IO,
  * never answers.
  *
  * A version with MERGE-ON-READ delete files is served through a
  * [[V1Scan]] bridge onto [[Snapshots.scanPin]] — the seq-guarded
  * anti-join over the files the same index keeps for the pushed
  * filters — because a DSv2 file scan cannot express the delete
  * application; [[Snapshots.compactDeletes]] restores the vectorized
  * path.
  *
  * Writes: `INSERT INTO` appends and `INSERT OVERWRITE` replaces the
  * table — both through the LIBRARY's transactional commits
  * ([[Snapshots.commitAppend]] / [[Snapshots.commitFull]] via the
  * `V1Write` bridge), so SQL writers get the same reservation
  * protocol, OCC, schema evolution, and atomic pointer flip as
  * library writers, with nothing duplicated here. `DELETE FROM t
  * WHERE key IN (…)` / `= k` bridges [[SupportsDelete]] onto
  * [[Snapshots.deleteRowsMoR]]: ONE committed tombstone file, zero
  * data rewrites — the O(tombstone) delete, straight from SQL
  * (predicates that aren't a key-set on one column are refused at
  * analysis, never half-applied). `CREATE TABLE … PARTITIONED BY (p)
  * [AS SELECT …]` stages a descriptor (`_CTAS_PENDING`: schema +
  * partition column) and the FIRST insert becomes the table's
  * [[Snapshots.commitFull]] v1 — so a SQL-only user can create,
  * fill, query, delete from, and time-travel a snapshot table without
  * touching the Scala API. Writes land on the CURRENT version under
  * the current partition spec; a time-travel handle (`VERSION AS OF`)
  * refuses writes. `DROP TABLE` succeeds only for staged tables (the
  * CTAS abort path) — retention for committed tables stays
  * [[Snapshots.vacuum]].
  */
class SnapshotCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw
      new IllegalArgumentException(
        s"SnapshotCatalog: set spark.sql.catalog.$name.root to the " +
          "directory holding the snapshot tables"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def tablePath(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$root/", "/", "")

  /** Existence probes route through the HADOOP FileSystem of the path
    * — the same resolution every [[Snapshots]] helper uses — never
    * `java.io.File`: the catalog fronts a store that is FS-generic,
    * and a local-only probe would make every table on hdfs://s3a://
    * "not exist" (NoSuchTableException) while the library reads it
    * fine. */
  private def hadoopFs(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def isSnapshotTable(path: String): Boolean = {
    val (f, p) = hadoopFs(path)
    f.isFile(new HPath(p, "_CURRENT")) ||
      f.isFile(new HPath(p, "_CURRENT.tmp"))
  }

  private def isStagedTable(path: String): Boolean = {
    val (f, p) = hadoopFs(path)
    f.isFile(new HPath(p, SnapshotCatalog.StagedMarker)) &&
      !isSnapshotTable(path)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val (f, dir) = hadoopFs((root +: namespace).mkString("/"))
    if (!f.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir).filter(_.isDirectory)
      .filter(s => isSnapshotTable(s.getPath.toString))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    isSnapshotTable(p) || isStagedTable(p)
  }

  override def loadTable(ident: Identifier): Table =
    load(ident, None)

  /** `VERSION AS OF x`: a version number, or a named ref published by
    * [[Snapshots.tag]] — the reproducible-training handle readable
    * straight from SQL. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version))

  /** `TIMESTAMP AS OF t`: Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = tablePath(ident)
    if (!isSnapshotTable(path)) throw new NoSuchTableException(ident)
    val v = Snapshots.versionAsOfTime(spark, path, timestampMicros / 1000L)
    new SnapshotSqlTable(fullName(ident), path, v, timeTravel = true)
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace() :+ ident.name()).mkString(".")

  private def load(ident: Identifier, version: Option[String]): Table = {
    val path = tablePath(ident)
    if (!isSnapshotTable(path)) {
      if (version.isEmpty && isStagedTable(path))
        return SnapshotCatalog.loadStaged(fullName(ident), path,
          spark.sparkContext.hadoopConfiguration)
      throw new NoSuchTableException(ident)
    }
    val v = version match {
      case None => Snapshots.currentVersion(spark, path)
      case Some(s) => s.toIntOption
        .getOrElse(Snapshots.versionOfRef(spark, path, s))
    }
    new SnapshotSqlTable(fullName(ident), path, v,
      timeTravel = version.isDefined)
  }

  /** `CREATE TABLE [AS SELECT]`: STAGE the table — write a
    * `_CTAS_PENDING` descriptor (schema JSON + the single identity
    * partition column) and return a handle whose first `INSERT`
    * becomes the snapshot store's [[Snapshots.commitFull]] v1 (CTAS
    * writes immediately; a plain CREATE leaves the staged descriptor
    * until the first insert). Exactly one identity `PARTITIONED BY`
    * column is required — it becomes the store's partition spec. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = tablePath(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val partCol = partitions.toSeq match {
      case Seq(t) if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      case _ => throw new UnsupportedOperationException(
        "SnapshotCatalog: CREATE TABLE needs exactly one identity " +
          "PARTITIONED BY column (the snapshot store's partition spec)")
    }
    require(schema.fieldNames.contains(partCol),
      s"SnapshotCatalog: partition column '$partCol' not in the " +
        "table schema")
    val (f, p) = hadoopFs(path)
    f.mkdirs(p)
    val tmp = new HPath(p, SnapshotCatalog.StagedMarker + ".tmp")
    val out = f.create(tmp, true)
    try out.write((partCol + "\n" + schema.json)
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(f.rename(tmp, new HPath(p, SnapshotCatalog.StagedMarker)),
      s"SnapshotCatalog: failed to publish the staged descriptor of " +
        path)
    new StagedSqlTable(fullName(ident), path, schema, partCol)
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "SnapshotCatalog: schemas evolve add-only through commits")

  /** Succeeds only for STAGED tables (the CTAS abort path — Spark
    * drops the half-created table when the write fails); a committed
    * table's retention stays [[Snapshots.vacuum]]. */
  override def dropTable(ident: Identifier): Boolean = {
    val path = tablePath(ident)
    if (isStagedTable(path)) {
      val (f, p) = hadoopFs(path)
      f.delete(p, true)
    } else if (isSnapshotTable(path))
      throw new UnsupportedOperationException(
        "SnapshotCatalog: retention for committed tables is " +
          "Snapshots.vacuum")
    else false
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "SnapshotCatalog does not rename tables")
}

private[sources] object SnapshotCatalog {
  /** Staged-table descriptor: first line the partition column, the
    * rest the schema JSON. Removed by the first commit. */
  val StagedMarker = "_CTAS_PENDING"

  private[sources] def loadStaged(fullName: String, path: String,
      conf: org.apache.hadoop.conf.Configuration): StagedSqlTable = {
    val p = new HPath(path, StagedMarker)
    val f = p.getFileSystem(conf)
    val in = f.open(p)
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    val nl = text.indexOf('\n')
    new StagedSqlTable(fullName, path, DataType.fromJson(text.drop(nl + 1))
      .asInstanceOf[StructType], text.take(nl))
  }

  private[sources] def dropStagedMarker(spark: SparkSession,
      path: String): Unit = {
    val p = new HPath(path, StagedMarker)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(p, false)
    ()
  }

  /** DELETE predicate translation shared by `canDeleteWhere` /
    * `deleteWhere`: the conjunction of `filters` as a key SET on one
    * column — each conjunct an `In` / `EqualTo` / `Or` of those over
    * the SAME column (sets intersect across conjuncts, union across
    * Or) — or None when the predicate can't be expressed as a key
    * set, in which case the delete is refused at ANALYSIS (Spark
    * raises "cannot delete"), never half-applied. Null keys match no
    * row (SQL 3VL: `k IN (1, NULL)` only ever matches k=1), so they
    * drop from the set. */
  private[sources] def deleteKeySet(filters: Array[Filter])
      : Option[(String, Seq[Any])] = {
    def oneFilter(f: Filter): Option[(String, Set[Any])] = f match {
      case EqualTo(c, v) =>
        Some((c, Option(v).toSet))
      case In(c, vs) =>
        Some((c, vs.filter(_ != null).toSet))
      case Or(l, r) =>
        for {
          (lc, lv) <- oneFilter(l)
          (rc, rv) <- oneFilter(r) if lc == rc
        } yield (lc, lv ++ rv)
      case _ => None
    }
    val parts = filters.toSeq.map(oneFilter)
    if (parts.isEmpty || parts.exists(_.isEmpty)) return None
    val resolved = parts.flatten
    val cols = resolved.map(_._1).distinct
    if (cols.length != 1) return None
    Some((cols.head, resolved.map(_._2).reduce(_ intersect _).toSeq))
  }
}

/** One snapshot table PINNED at `version`. Schema is the version's
  * recorded `_schema` (evolved reads null-fill old files; time travel
  * returns exactly that version's columns), falling back to the file
  * set's own schema for pre-tracking tables. `timeTravel` marks a
  * handle resolved through VERSION/TIMESTAMP AS OF — readable, never
  * writable or deletable (writing "into the past" has no meaning in a
  * linear version history). */
private[sources] class SnapshotSqlTable(tableName: String,
    path: String, version: Int, timeTravel: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete {

  override def name(): String = s"$tableName@v$version"

  /** Pinned once per loaded table: its scans share the index. */
  private lazy val pinned = Snapshots.pinned(SparkSession.active, path,
    version)

  override lazy val schema: StructType =
    Snapshots.schemaOf(SparkSession.active, path, version)
      .getOrElse(pinned.schema)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    if (pinned.dels.isEmpty)
      ParquetScanBuilder(SparkSession.active, pinned.index, pinned.schema,
        pinned.schema, options)
    else new MorScanBuilder(path, pinned)

  /** SQL `DELETE FROM t WHERE key IN (…)`: the predicate becomes a
    * key set ([[SnapshotCatalog.deleteKeySet]]) and the delete is
    * [[Snapshots.deleteRowsMoR]] — ONE committed tombstone file, zero
    * data rewrites, O(tombstone) cost at any table size. Reads serve
    * the deletion immediately (SQL reads route through the MoR
    * bridge); [[Snapshots.compactDeletes]] folds tombstones on the
    * maintenance schedule. Values bind as strings and cast to the key
    * column's type inside the library (the same cast path every
    * library caller gets). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !timeTravel && SnapshotCatalog.deleteKeySet(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!timeTravel,
      s"SnapshotCatalog: cannot delete from time-travel handle " +
        s"$tableName@v$version")
    val (keyCol, values) = SnapshotCatalog.deleteKeySet(filters)
      .getOrElse(throw new UnsupportedOperationException(
        "SnapshotCatalog: DELETE predicates must be a key set on one " +
          "column (IN / = / OR of those) — row-level predicates need " +
          "the library API (Snapshots.deleteRows)"))
    val spark = SparkSession.active
    import spark.implicits._
    Snapshots.deleteRowsMoR(spark, path, keyCol,
      values.map(String.valueOf).toDF(keyCol))
    ()
  }

  /** SQL writes ride the library's transactional commits through the
    * V1Write bridge: INSERT INTO → [[Snapshots.commitAppend]] (the
    * reservation protocol, add-only schema evolution, atomic pointer
    * flip — a concurrent writer fails clean, never lost-updates);
    * INSERT OVERWRITE (truncate) → [[Snapshots.commitFull]]. The
    * partition column is the CURRENT version's recorded spec. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation()
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
            require(!timeTravel,
              s"SnapshotCatalog: cannot write to time-travel handle " +
                s"$tableName@v$version — writes land on the current " +
                "version only")
            val spark = data.sparkSession
            val cur = Snapshots.currentVersion(spark, path)
            val partCol = Snapshots.partSpecOf(spark, path, cur)
              .getOrElse(throw new UnsupportedOperationException(
                s"SnapshotCatalog: $path predates partition-spec " +
                  "tracking — re-commit once (commitFull) before " +
                  "writing through SQL"))
            if (replace || overwrite)
              Snapshots.commitFull(data, path, partCol)
            else Snapshots.commitAppend(data, path, partCol)
            ()
          }
      }
    }
}

/** A table staged by `CREATE TABLE` whose first commit hasn't landed:
  * schema and partition column come from the `_CTAS_PENDING`
  * descriptor, reads are an empty relation with the declared schema,
  * and the FIRST insert (CTAS's write, or a later `INSERT`) becomes
  * [[Snapshots.commitFull]] v1 and removes the descriptor. */
private[sources] class StagedSqlTable(tableName: String, path: String,
    stagedSchema: StructType, partCol: String)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"$tableName@staged"

  override def schema: StructType = stagedSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new V1Scan {
      override def readSchema(): StructType = stagedSchema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = stagedSchema
          override def buildScan(): RDD[Row] =
            context.sparkSession.sparkContext.emptyRDD[Row]
        }.asInstanceOf[T]
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation()
            : org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
            val spark = data.sparkSession
            Snapshots.commitFull(data, path, partCol)
            SnapshotCatalog.dropStagedMarker(spark, path)
            ()
          }
      }
    }
}

/** The merge-on-read bridge: [[Snapshots.scanPin]] over the data files
  * the version's index keeps for the pushed filters (its own prune) and
  * every delete file. Pushed filters also run as residuals above it. */
private[sources] class MorScanBuilder(path: String, pinned: Snapshots.Pinned)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed = Array.empty[Filter]
  private var required: StructType = pinned.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: pruning is an IO optimization, never a proof
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val pin = Snapshots.Pin(pinned.mdf, pinned.index.files(pushed.toSeq),
      pinned.dels)
    val req = required
    new V1Scan {
      override def readSchema(): StructType = req
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = req
          override def buildScan(): RDD[Row] =
            Snapshots.scanPin(context.sparkSession, path, pin,
              Some(pinned.schema))
              .select(req.fieldNames.toIndexedSeq.map(col): _*).rdd
        }.asInstanceOf[T]
    }
  }
}
