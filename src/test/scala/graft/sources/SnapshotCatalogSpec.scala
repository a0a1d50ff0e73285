package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.Snapshots

class SnapshotCatalogSpec extends SparkSpec {

  private def rows(part: String, ids: Range, v: Long): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (s"$part-$i", part, v + i)).toDF("id", "day", "cents")
  }

  /** Register a fresh catalog name over `root` (catalog instances are
    * cached per session — each test uses its own name). */
  private var n = 0
  private def catalog(root: String): String = {
    n += 1
    val name = s"graftcat$n"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  test("SQL reads the current snapshot; VERSION AS OF pins history by " +
      "number and by named ref; TIMESTAMP AS OF time-travels") {
    val root = tmpDir("cat_basic")
    val t = s"$root/events"
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)), t, "day")
    Snapshots.tag(spark, t, "train", 1)
    Thread.sleep(20)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(20)
    Snapshots.commitOverwritePartition(rows("d2", 1 to 2, 9000), t,
      "day", "d2")
    val c = catalog(root)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.events")
      .head().getLong(0) == 5, "current = v2 (d2 replaced with 2 rows)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.events VERSION AS OF 1")
      .head().getLong(0) == 6)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $c.events VERSION AS OF 'train'")
      .head().getLong(0) == 6, "a tag is a SQL-addressable version")
    val ts = new java.sql.Timestamp(cutoff).toString
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $c.events TIMESTAMP AS OF '$ts'")
      .head().getLong(0) == 6, "wall-clock time travel lands on v1")
    // values, not just counts: SQL agg equals the library read
    val viaSql = spark.sql(
      s"SELECT day, sum(cents) AS s FROM $c.events GROUP BY day")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaLib = Snapshots.read(spark, t)
      .groupBy("day").agg(sum("cents").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == viaLib)
  }

  test("pushed range filter prunes the manifest: the SQL scan reads " +
      "EXACTLY the files readRange would") {
    val s = spark
    import s.implicits._
    val root = tmpDir("cat_prune")
    val t = s"$root/facts"
    // 4 partitions with disjoint cents ranges → disjoint per-file stats
    val df = (1 to 4).map { p =>
      (1 to 20).map(i => (s"p$p-$i", s"p$p", p * 1000L + i))
        .toDF("id", "day", "cents")
    }.reduce(_.unionByName(_))
    Snapshots.commitFull(df, t, "day", statsCols = Seq("cents"))
    val c = catalog(root)
    val sql = spark.sql(
      s"SELECT id, cents FROM $c.facts " +
        "WHERE cents >= 2000 AND cents <= 3005")
    val lib = Snapshots.readRange(spark, t, "cents", "2000", "3005")
    assert(sql.as[(String, Long)].collect().sorted.toSeq ==
      lib.select("id", "cents").as[(String, Long)].collect().sorted.toSeq)
    assert(scannedFiles(sql) == scannedFiles(lib),
      "SQL planning must skip exactly the files manifest stats rule out")
    def parts(fs: Set[String]): Set[String] =
      fs.map(_.split('/').takeRight(2).head)
    assert(parts(scannedFiles(sql)) == Set("gp=p2", "gp=p3"),
      "two of four partitions overlap [2000, 3005]")
    // unfiltered SQL scans the full version
    assert(parts(scannedFiles(spark.sql(s"SELECT id FROM $c.facts")))
      .size == 4)
  }

  test("partition-column equality is directory-exact through SQL, " +
      "era-aware under spec evolution (readPartition's file set)") {
    val s = spark
    import s.implicits._
    val root = tmpDir("cat_part")
    val t = s"$root/evolved"
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)), t, "day")
    // era 2: re-partition by `bucket`, value colliding with era-1 d1
    Snapshots.commitAppend(
      Seq(("e2-1", "z", "d1", 1000L), ("e2-2", "z", "x", 2000L))
        .toDF("id", "day", "bucket", "cents"), t, "bucket")
    val c = catalog(root)
    val sql = spark.sql(
      s"SELECT id FROM $c.evolved WHERE bucket = 'd1'")
    val lib = Snapshots.readPartition(spark, t, "bucket", "d1")
    assert(sql.as[String].collect().toSeq.sorted ==
      lib.select("id").as[String].collect().toSeq.sorted)
    assert(scannedFiles(sql) == scannedFiles(lib),
      "same-era files prune by partition value; legacy-era files " +
        "serve conservatively — identical sets through SQL and library")
    assert(sql.as[String].collect().toSeq == Seq("e2-1"))
  }

  test("time travel returns exactly the old version's columns across " +
      "schema evolution; catalog lists and existence-checks tables") {
    val s = spark
    import s.implicits._
    val root = tmpDir("cat_evo")
    val t = s"$root/wide"
    Snapshots.commitFull(rows("d1", 1 to 2, 0), t, "day")
    Snapshots.commitAppend(
      Seq(("n1", "d2", 5L, "extra")).toDF("id", "day", "cents", "note"),
      t, "day")
    val c = catalog(root)
    assert(spark.sql(s"SELECT * FROM $c.wide VERSION AS OF 1")
      .columns.toSeq == Seq("id", "day", "cents"))
    assert(spark.sql(s"SELECT * FROM $c.wide").columns.toSeq ==
      Seq("id", "day", "cents", "note"))
    assert(spark.sql(s"SELECT note FROM $c.wide WHERE id = 'd1-1'")
      .head().isNullAt(0), "pre-evolution rows null-fill the new column")
    // listing + existence + missing-table error
    Snapshots.commitFull(rows("d1", 1 to 1, 0), s"$root/other", "day")
    assert(spark.sql(s"SHOW TABLES IN $c").collect()
      .map(_.getString(1)).toSet == Set("wide", "other"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $c.nope").collect()
    }
    assert(e.getMessage.toLowerCase.contains("table"))
  }

  test("DDL refuses with a pointer to the transactional library API") {
    val root = tmpDir("cat_ro")
    Snapshots.commitFull(rows("d1", 1 to 2, 0), s"$root/t1", "day")
    val c = catalog(root)
    intercept[Exception] {
      spark.sql(s"DROP TABLE $c.t1")
    }
    assert(spark.sql(s"SELECT count(*) FROM $c.t1").head().getLong(0) == 2,
      "refused drop leaves the table intact")
  }

  test("catalog existence probes route through the Hadoop FileSystem " +
      "of the root — a non-java.io scheme (fake FS) lists, loads, " +
      "reads, and time-travels") {
    val dir = tmpDir("cat_fs")
    spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftFakeFs].getName)
    spark.sparkContext.hadoopConfiguration.set(
      "fs.AbstractFileSystem.graftfs.impl",
      classOf[GraftFakeAbstractFs].getName)
    val root = s"graftfs:$dir"
    val t = s"$root/remote"
    Snapshots.commitFull(rows("d1", 1 to 3, 0), t, "day")
    Snapshots.commitAppend(rows("d2", 1 to 2, 100), t, "day")
    val c = catalog(root)
    assert(spark.sql(s"SHOW TABLES IN $c").collect()
      .map(_.getString(1)).toSet == Set("remote"),
      "listTables must see tables through the scheme's FileSystem")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.remote")
      .head().getLong(0) == 5)
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.remote VERSION AS OF 1")
      .head().getLong(0) == 3,
      "time travel works over the non-local scheme")
    spark.sql(s"INSERT INTO $c.remote VALUES ('w1', 'd3', 7)")
    assert(Snapshots.currentVersion(spark, t) == 3,
      "SQL writes commit through the scheme's FileSystem too")
  }

  test("a version with active MoR deletes is SERVED through the V1 " +
      "bridge: row sets equal the library's morScan, filters and " +
      "projections still apply, and history stays addressable") {
    val s = spark
    import s.implicits._
    val root = tmpDir("cat_mor")
    val t = s"$root/cdc"
    Snapshots.commitFull(
      rows("d1", 1 to 4, 0).unionByName(rows("d2", 1 to 4, 100)), t, "day")
    Snapshots.deleteRowsMoR(spark, t, "id",
      Seq("d1-2", "d2-3").toDF("id"))
    val c = catalog(root)
    assert(spark.sql(s"SELECT id FROM $c.cdc").as[String].collect()
      .toSet == Snapshots.read(spark, t).select("id").as[String]
      .collect().toSet, "SQL ≡ library scanPin row set")
    assert(spark.sql(
      s"SELECT id, cents FROM $c.cdc WHERE day = 'd1' AND cents < 3")
      .as[(String, Long)].collect().toSet == Set(("d1-1", 1L)),
      "residual filters run above the MoR bridge")
    assert(spark.sql(s"SELECT count(*) FROM $c.cdc VERSION AS OF 1")
      .head().getLong(0) == 8,
      "pre-delete versions keep the vectorized path")
    // a re-inserted key stays visible through SQL (seq scoping)
    Snapshots.commitAppend(
      Seq(("d1-2", "d1", 999L)).toDF("id", "day", "cents"), t, "day")
    assert(spark.sql(
      s"SELECT cents FROM $c.cdc WHERE id = 'd1-2'")
      .as[Long].collect().toSeq == Seq(999L))
  }

  test("SQL DELETE FROM commits exactly one tombstone file (zero " +
      "data rewrites) via deleteRowsMoR; non-key-set predicates are " +
      "refused at analysis") {
    val s = spark
    import s.implicits._
    val root = tmpDir("cat_del")
    val t = s"$root/d"
    Snapshots.commitFull(
      rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 3, 100)), t, "day")
    val c = catalog(root)
    val m1 = Snapshots.readManifest(spark, t, 1).map(_.path).toSet
    spark.sql(s"DELETE FROM $c.d WHERE id IN ('d1-2', 'd2-1')")
    assert(Snapshots.currentVersion(spark, t) == 2,
      "one SQL DELETE = one snapshot commit")
    val m2 = Snapshots.readManifest(spark, t, 2)
    assert(m2.map(_.path).toSet.intersect(m1) == m1,
      "a SQL delete rewrites NO data files")
    val added = m2.filterNot(e => m1.contains(e.path))
    assert(added.size == 1 && added.head.kind.contains("delete:id"),
      s"exactly one tombstone file, got: $added")
    assert(spark.sql(s"SELECT id FROM $c.d").as[String].collect()
      .toSet == Set("d1-1", "d1-3", "d2-2", "d2-3"))
    // equality and OR-of-equalities are key sets too
    spark.sql(s"DELETE FROM $c.d WHERE id = 'd1-1' OR id = 'd2-2'")
    assert(spark.sql(s"SELECT id FROM $c.d").as[String].collect()
      .toSet == Set("d1-3", "d2-3"))
    // numeric key column: values bind as strings, cast in the library
    spark.sql(s"DELETE FROM $c.d WHERE cents = 103")
    assert(spark.sql(s"SELECT id FROM $c.d").as[String].collect()
      .toSet == Set("d1-3"))
    // a row-level predicate is NOT a key set: refused, nothing applied
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $c.d WHERE cents > 0")
    }
    assert(e.getMessage.toLowerCase.contains("delete"),
      s"refusal should surface as a can't-delete error: ${e.getMessage}")
    assert(spark.sql(s"SELECT count(*) FROM $c.d").head().getLong(0) == 1,
      "a refused delete changes nothing")
    // history: every delete is time-travelable
    assert(spark.sql(s"SELECT count(*) FROM $c.d VERSION AS OF 1")
      .head().getLong(0) == 6)
  }

  test("CREATE TABLE AS SELECT builds a snapshot table entirely " +
      "through SQL: staged descriptor, first-insert commitFull, then " +
      "normal reads/writes; plain CREATE + INSERT works; DROP TABLE " +
      "cleans up only staged tables") {
    val s = spark
    import s.implicits._
    val root = tmpDir("cat_ctas")
    val c = catalog(root)
    rows("d1", 1 to 3, 0).unionByName(rows("d2", 1 to 2, 100))
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE $c.ct PARTITIONED BY (day) AS " +
      "SELECT * FROM ctas_src")
    val t = s"$root/ct"
    assert(Snapshots.currentVersion(spark, t) == 1,
      "CTAS's write is the table's commitFull v1")
    assert(!new java.io.File(t, "_CTAS_PENDING").exists(),
      "the staged descriptor is removed by the first commit")
    assert(spark.sql(s"SELECT id FROM $c.ct WHERE day = 'd2'")
      .as[String].collect().toSet == Set("d2-1", "d2-2"))
    assert(Snapshots.read(spark, t).count() == 5,
      "the library reads a CTAS-built table like any other")
    spark.sql(s"INSERT INTO $c.ct VALUES ('x1', 'd3', 9)")
    assert(spark.sql(s"SELECT count(*) FROM $c.ct").head().getLong(0) == 6)
    // plain CREATE: staged until the first insert; reads are empty
    spark.sql(s"CREATE TABLE $c.pt (id STRING, day STRING, cents BIGINT) " +
      "PARTITIONED BY (day)")
    assert(spark.sql(s"SELECT * FROM $c.pt").count() == 0,
      "a staged table reads as empty with the declared schema")
    assert(spark.sql(s"SELECT * FROM $c.pt").columns.toSet ==
      Set("id", "day", "cents"))
    spark.sql(s"INSERT INTO $c.pt VALUES ('p1', 'd1', 1)")
    assert(Snapshots.currentVersion(spark, s"$root/pt") == 1)
    assert(spark.sql(s"SELECT id FROM $c.pt").as[String].collect()
      .toSeq == Seq("p1"))
    // CREATE over an existing table refuses
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.ct (x INT) PARTITIONED BY (x) " +
        "AS SELECT 1 AS x")
    }
    // DROP: staged tables clean up; committed tables refuse
    spark.sql(s"CREATE TABLE $c.gone (a STRING, b STRING) " +
      "PARTITIONED BY (b)")
    spark.sql(s"DROP TABLE $c.gone")
    assert(!new java.io.File(s"$root/gone").exists())
    intercept[Exception] { spark.sql(s"DROP TABLE $c.ct") }
    assert(spark.sql(s"SELECT count(*) FROM $c.ct").head().getLong(0) == 6)
    // CREATE without an identity partition column refuses
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.nopart (a STRING) AS SELECT 'v' AS a")
    }
  }

  test("SQL INSERT INTO appends through the transactional commit " +
      "(version bumps, library read agrees); INSERT OVERWRITE replaces " +
      "wholesale and history stays time-travelable") {
    val root = tmpDir("cat_write")
    val t = s"$root/w"
    Snapshots.commitFull(rows("d1", 1 to 2, 0), t, "day")
    val c = catalog(root)
    spark.sql(s"INSERT INTO $c.w VALUES ('n1', 'd2', 50)")
    assert(Snapshots.currentVersion(spark, t) == 2,
      "a SQL insert is one snapshot commit")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.w")
      .head().getLong(0) == 3)
    assert(Snapshots.read(spark, t)
      .where(col("id") === "n1").count() == 1,
      "the library read sees the SQL-inserted row")
    spark.sql(
      s"INSERT OVERWRITE $c.w VALUES ('z1', 'd9', 1), ('z2', 'd9', 2)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.w")
      .head().getLong(0) == 2, "overwrite replaces the table")
    assert(spark.sql(s"SELECT count(*) AS n FROM $c.w VERSION AS OF 2")
      .head().getLong(0) == 3,
      "pre-overwrite versions stay time-travelable")
    assert(Snapshots.currentVersion(spark, t) == 3)
  }
}

/** A local filesystem registered under a NON-`file:` scheme — proves
  * the catalog's existence probes and the store's IO resolve through
  * `Path.getFileSystem`, never `java.io.File` (the defect class that
  * makes every table on hdfs://s3a:// "not exist" while the library
  * reads it fine). */
class GraftFakeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** The FileContext face of [[GraftFakeFs]] — the store's atomic
  * pointer flip goes through `FileContext`, which resolves schemes via
  * `fs.AbstractFileSystem.<scheme>.impl`. */
class GraftFakeAbstractFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new GraftFakeFs, conf, "graftfs", false)
