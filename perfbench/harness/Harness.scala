package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Snapshots
import graft.pipeline.{Pipeline, PipelineConfig}

/** One benchmark run in one JVM: start a local session, set the workload up
  * once (cold), warm up, then drive whole passes of its fixed op sequence
  * in a closed loop (one client, next op after the previous one returns)
  * for up to `--seconds`, at least one pass. Every
  * op goes through the engine's public functions only. Writes one JSON
  * document with the op records, set-up times, output checks and, with
  * `--trace 1`, the [[Tracer]] events.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --out FILE [--data DIR] [--queries a,b] */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None

    val rec = new Recorder(spark)
    val wl: Workload = opt("workload") match {
      case "ingest_backfill" => new IngestBackfill(spark, work, seed)
      case "store_mixed" => new StoreMixed(spark, work, seed, trace)
      case "query_mix" => new QueryMix(spark, work, opt("data"),
        opt.get("queries").map(_.split(",").toSeq).getOrElse(QueryMix.Default))
      case w => sys.error(s"unknown workload $w")
    }
    val s0 = System.nanoTime()
    wl.setup()
    val setupS = (System.nanoTime() - s0) / 1e9
    wl.warm(rec)
    val warmFailed = rec.failures
    rec.reset()

    val gc0 = gcMillis()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    // whole passes only, so every run measures the same op mix however
    // fast the program is: another pass starts while the mean pass so far
    // still fits in the window
    val window = (opt("seconds").toDouble * 1e9).toLong
    val start = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - start) / pass * (pass + 1) <= window) {
      wl.pass(pass, rec)
      pass += 1
    }
    val gcS = (gcMillis() - gc0) / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val extra = wl.finish()

    val doc = Json.obj(
      "context" -> Json.obj("spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "master" -> spark.sparkContext.master, "cpus" -> cpus,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "inputs" -> wl.inputs),
      "session_s" -> sessionS, "setup_s" -> setupS,
      "warm_failed" -> warmFailed, "passes" -> pass, "ops" -> rec.ops,
      "checks" -> rec.checks,
      "gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb,
      "workload" -> extra,
      "trace" -> tracer.map(_.dump(10000)))
    val w = new PrintWriter(opt("out"), "UTF-8")
    try w.write(doc.json) finally w.close()
    spark.stop()
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}

/** Op timing and outcome records. Times are epoch milliseconds so they line
  * up with Spark listener event times. */
final class Recorder(spark: SparkSession) {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def clock(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val ops = mutable.ArrayBuffer.empty[Json.Raw]
  val checks = mutable.ArrayBuffer.empty[Json.Raw]
  private var nextId = 0L
  /** Id of the most recent op; pass-level checks are charged to it. */
  var lastId = -1L

  /** Failed ops and failed checks since the last reset. */
  var failures = 0
  def reset(): Unit = { ops.clear(); checks.clear(); failures = 0 }

  /** Times `body` as op `name` of `kind`; a throw is a failed op. The body
    * returns the op's extra fields (rows, build time, ...). An op whose
    * result the benchmark itself materializes names, as `plan_layer`, the
    * layer that built the plan, and the materializing jobs are charged to
    * it. Returns the op id, or -1 when it failed. */
  def op(name: String, kind: String)(body: => Map[String, Any]): Long = {
    val id = nextId; nextId += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    val t0 = clock()
    val (ok, err, extra) =
      try { val x = body; (true, null, x) }
      catch { case NonFatal(e) => (false, s"${e.getClass.getName}: ${e.getMessage}", Map.empty[String, Any]) }
    val t1 = clock()
    sc.setLocalProperty(Tracer.OpProperty, null)
    lastId = id
    if (!ok) failures += 1
    ops += Json.obj(Seq("id" -> id, "name" -> name, "kind" -> kind,
      "t0" -> t0, "t1" -> t1, "ok" -> ok, "error" -> err) ++ extra.toSeq: _*)
    if (ok) id else -1L
  }

  /** Records an output check on op `id` (untimed). */
  def check(id: Long, ok: Boolean, what: => String): Unit = {
    if (!ok) failures += 1
    checks += Json.obj("op" -> id, "ok" -> ok, "what" -> (if (ok) null else what))
  }
}

trait Workload {
  /** Builds the workload's state from scratch: the run's first, cold use
    * of the engine. */
  def setup(): Unit
  /** Untimed warm-up after set-up, before the measured window. */
  def warm(rec: Recorder): Unit = ()
  /** Runs pass `p` of the workload's fixed op sequence; stops at, and
    * returns false on, the first failed op. */
  def pass(p: Int, rec: Recorder): Boolean
  def finish(): Json.Raw = Json.obj()
  def inputs: Json.Raw
}

object Fs {
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else Seq(f)
  def bytes(f: File): Long = files(f).map(_.length).sum
}

// ---------------------------------------------------------------------------

/** Raw NDJSON dates through the DQ gate into the curated zone. Set-up
  * generates and runs one date; the warm-up runs one smaller quarantine
  * and re-admission cycle. One pass, over fresh zone directories: a
  * sequential backfill of three dates with a late batch landing on the
  * first one after the second and re-run, then
  * a quarantine run of a date carrying out-of-domain events and the
  * re-admission of the diverted rows. */
final class IngestBackfill(spark: SparkSession, work: String, seed: Long)
    extends Workload {
  import graft.gen.EventsGen
  import graft.schema.RawEvent

  val EventsPerDate = 200000
  /** Size of the warm-up date: enough to compile every stage once. */
  val WarmEvents = 20000
  val LatePerDate = 5000
  val BogusRows = 1000
  private var rawBytes = 0L
  private var rawRows = 0L
  private var committed = 0L

  private def date(k: Int) =
    java.time.LocalDate.of(2025, 1, 1).plusDays(k.toLong).toString

  private def conf(dir: String) = PipelineConfig(s"$dir/raw", s"$dir/curated",
    s"$dir/metrics", Some(s"$dir/audit"))

  private def writeDay(raw: String, d: String, salt: Long,
      n: Int = EventsPerDate): Long = {
    val ev = EventsGen.generateDay(d, n, seed = seed * 7919 + salt)
    val f = EventsGen.writeNdjson(ev, raw, d)
    rawBytes += f.length(); rawRows += ev.size
    ev.size
  }

  /** Set-up: generate one date and run it (the cold first run). */
  def setup(): Unit = {
    val c = conf(s"$work/setup")
    writeDay(c.rawBase, "2024-12-31", -1)
    Pipeline.runPartition(spark, c, "2024-12-31")
  }

  /** One untimed quarantine and re-admission cycle, so the measured ones
    * are not the first of their kind. */
  override def warm(rec: Recorder): Unit = {
    val dir = s"$work/warm"
    val c = conf(dir)
    val d = "2024-12-30"
    writeDay(c.rawBase, d, -100, WarmEvents)
    EventsGen.writeNdjson(bogusRows(-1, d, new Random(seed)), c.rawBase, d,
      "bogus.json")
    Pipeline.runPartitionQuarantine(spark, c, d, s"$dir/quarantine")
    Pipeline.readmitQuarantine(spark, c, d, s"$dir/quarantine",
      allowed = graft.schema.EventSchema.allowedEventTypes :+ "bogus")
  }

  /** Events of date `d` whose type is outside the domain. */
  private def bogusRows(p: Int, d: String, rnd: Random): Seq[RawEvent] =
    Seq.tabulate(BogusRows) { b =>
      RawEvent(s"bogus-$p-$b", Some((rnd.nextInt(500) + 1).toString),
        "bogus", s"${d}T00:00:${"%02d".format(b % 60)}Z", None)
    }

  private val Steps = Seq("backfill" -> 0, "backfill" -> 1, "late_rerun" -> 0,
    "backfill" -> 2, "quarantine" -> 3, "readmit" -> 3)

  def pass(p: Int, rec: Recorder): Boolean = {
    val dir = s"$work/pass-$p"
    val c = conf(dir)
    val qBase = s"$dir/quarantine"
    val expected = mutable.Map.empty[String, Long]
    val rnd = new Random(seed * 31 + p)
    var audited = 0
    val done = Steps.forall { case (name, k) =>
      val d = date(k)
      // inputs land untimed, right before the op that reads them
      name match {
        case "backfill" => expected(d) = writeDay(c.rawBase, d, p * 100L + k)
        case "late_rerun" =>
          val late = EventsGen.generateLate(d, LatePerDate, seed = seed * 13 + k)
          EventsGen.writeNdjson(late, c.rawBase, d, "late.json")
          expected(d) += late.size
        case "quarantine" =>
          val bogus = bogusRows(p, d, rnd)
          EventsGen.writeNdjson(bogus, c.rawBase, d, "bogus.json")
          expected(d) = writeDay(c.rawBase, d, p * 100L + k) + bogus.size
        case "readmit" =>
      }
      var total = -1L
      val id = rec.op(name, "write") {
        total = (name match {
          case "backfill" => Pipeline.backfill(spark, c, d, d).head
          case "late_rerun" => Pipeline.runPartition(spark, c, d)
          case "quarantine" => Pipeline.runPartitionQuarantine(spark, c, d, qBase)
          case "readmit" => Pipeline.readmitQuarantine(spark, c, d, qBase,
            allowed = graft.schema.EventSchema.allowedEventTypes :+ "bogus")
        }).counters.totalRows
        Map("rows" -> total)
      }
      audited += 1
      if (id >= 0) check(rec, id, name, d, total, expected(d), c, qBase)
      id >= 0
    }
    val auditRows = graft.dq.DqAudit.history(spark, c.auditTable.get).count()
    rec.check(rec.lastId, auditRows == audited,
      s"audit table has $auditRows rows, expected one per run ($audited)")
    done
  }

  /** Every run's DQ report counts the whole raw partition; plain runs land
    * every row in curated; after re-admission the two zones together hold
    * every row and no out-of-domain row is left in quarantine. */
  private def check(rec: Recorder, id: Long, name: String, d: String,
      total: Long, want: Long, c: PipelineConfig, qBase: String): Unit = {
    def rows(base: String) = spark.read.parquet(s"$base/ingestion_date=$d")
    if (name != "readmit")
      rec.check(id, total == want, s"$name $d: report counts $total, expected $want")
    if (name == "backfill" || name == "late_rerun") {
      val got = rows(c.curatedBase).count()
      rec.check(id, got == want, s"$name $d: curated $got rows, expected $want")
      committed += got
    }
    if (name == "readmit") {
      val cur = rows(c.curatedBase).count()
      val q = rows(qBase)
      val (qn, bogus) = (q.count(), q.where(col("event_type") === "bogus").count())
      rec.check(id, cur + qn == want && bogus == 0,
        s"readmit $d: curated $cur + quarantined $qn != $want, or $bogus " +
          "out-of-domain rows left in quarantine")
      committed += cur
    }
  }

  override def finish(): Json.Raw = Json.obj("events_committed" -> committed)

  def inputs: Json.Raw = Json.obj("raw_bytes" -> rawBytes, "raw_rows" -> rawRows,
    "events_per_date" -> EventsPerDate)
}

// ---------------------------------------------------------------------------

final case class StoreRow(event_id: Long, user_id: Long, event_type: String,
    amount_cents: Long, event_date: String) {
  /** Order-independent row checksum, the same function as [[StoreMixed.digest]]. */
  lazy val crc: Long = {
    val c = new CRC32
    c.update(s"$event_id|$user_id|$event_type|$amount_cents|$event_date"
      .getBytes(StandardCharsets.UTF_8))
    c.getValue
  }
}

/** A snapshot table under a ~70/30 read/write op mix. Every read is
  * checked against a shadow copy the benchmark keeps in driver memory:
  * an immutable map per committed version, updated untimed after each
  * write. */
final class StoreMixed(spark: SparkSession, work: String, seed: Long,
    trace: Boolean) extends Workload {
  import spark.implicits._

  val Rows = 200000
  val Dates = 20
  val Stats = Seq("event_id", "user_id")
  private val rnd = new Random(seed)
  private var table = ""
  private var nextKey = Rows.toLong
  private var commits = 0
  private var inCalls = 0
  /** (data files, data bytes, manifest bytes) of the table after set-up. */
  private var setupSize = (0, 0L, 0L)
  private var shadow = HashMap.empty[Long, StoreRow]
  private val versions = mutable.Map.empty[Int, HashMap[Long, StoreRow]]
  private val manifests = mutable.ArrayBuffer.empty[Json.Raw]

  import StoreMixed.{date, user}

  private def initial: Seq[StoreRow] =
    (0L until Rows).map(id => StoreMixed.row(seed, id, (id % Dates).toInt))

  def setup(): Unit = {
    val (s, d) = (seed, Dates)
    val ds = spark.range(Rows).as[Long]
      .map(id => StoreMixed.row(s, id, (id % d).toInt)).toDF()
    table = s"$work/table"
    Snapshots.commitFull(ds, table, "event_date", Stats)
    val (manifest, data) = Fs.files(new File(table))
      .partition(_.getPath.contains("/_manifests/"))
    setupSize = (data.count(_.getName.endsWith(".parquet")),
      data.map(_.length).sum, manifest.map(_.length).sum)
  }

  /** Builds the shadow copy, then runs one op of each cheap kind and the
    * maintenance, so the measured ones are not the first of their kind (a
    * merge costs half a window, so the first measured merge stays cold).
    * Every run starts measuring on a table without merge-on-read deletes. */
  override def warm(rec: Recorder): Unit = {
    shadow = HashMap.from(initial.map(r => r.event_id -> r))
    versions(Snapshots.currentVersion(spark, table)) = shadow
    Kinds.distinct.filter(_ != "merge").foreach(op(_, rec))
    maintain(rec)
    if (trace) resolve(rec)
  }

  /** (row count, sum of row checksums) of a read's output. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(crc32(concat_ws("|",
      col("event_id").cast("string"), col("user_id").cast("string"),
      col("event_type"), col("amount_cents").cast("string"),
      col("event_date").cast("string")).cast("binary")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def expect(rows: Iterable[StoreRow]): (Long, Long) =
    (rows.size.toLong, rows.iterator.map(_.crc).sum)

  private def read(rec: Recorder, name: String, want: => Iterable[StoreRow])(
      f: => DataFrame): Boolean = {
    var got = (0L, 0L)
    val id = rec.op(name, "read") {
      got = digest(f); Map("rows" -> got._1, "plan_layer" -> "io.Snapshots")
    }
    if (id >= 0) {
      val e = expect(want)
      rec.check(id, got == e, s"$name: got $got, expected $e")
    }
    id >= 0
  }

  private def write(rec: Recorder, name: String, next: HashMap[Long, StoreRow],
      rows: Long)(f: => Any): Boolean = {
    val id = rec.op(name, "write") { f; Map("rows" -> rows) }
    if (id >= 0) {
      shadow = next
      val v = Snapshots.currentVersion(spark, table)
      val last = versions.keys.max
      (last + 1 to v).foreach(versions(_) = shadow)
      commits += v - last
      if (trace) resolve(rec)
    }
    id >= 0
  }

  /** Traced runs time the public manifest resolution after every commit,
    * outside the op, and note the live file count it returns. */
  private def resolve(rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    val n = Snapshots.readManifest(spark, table,
      Snapshots.currentVersion(spark, table)).size
    manifests += Json.obj("t" -> rec.clock(),
      "resolve_s" -> (System.nanoTime() - t0) / 1e9, "entries" -> n)
  }

  /** Change data lands on recent data: `n` keys of the two newest dates. */
  private def recentKeys(n: Int): Seq[Long] = {
    val recent = Set(date(Dates - 1), date(Dates - 2))
    rnd.shuffle(shadow.values.filter(r => recent(r.event_date)).map(_.event_id)
      .toSeq.sorted).take(n)
  }

  private def recentDate(): Int =
    Dates - 1 - (math.pow(rnd.nextDouble(), 2) * Dates).toInt

  private def freshRows(n: Int): Seq[StoreRow] = Seq.fill(n) {
    val r = StoreMixed.row(seed, nextKey, recentDate()); nextKey += 1; r
  }

  /** The fixed op sequence: 11 reads and 5 writes, then maintenance; the
    * seed picks only the arguments (dates, users, key ranges, rows). */
  private val Kinds = Seq("partition", "in", "append", "merge", "range",
    "partition", "asof", "delete", "in", "partition", "overwrite", "range",
    "in", "asof", "partition", "append")

  def pass(p: Int, rec: Recorder): Boolean =
    Kinds.forall(op(_, rec)) && maintain(rec)

  /** Maintenance closes every pass, timed as writes: fold the merge-on-read
    * deletes, then vacuum all but the last 8 versions. */
  private def maintain(rec: Recorder): Boolean =
    write(rec, "compactDeletes", shadow, 0L) {
      Snapshots.compactDeletes(spark, table, "event_date", Stats)
    } && {
      val retain = math.max(versions.keys.min, versions.keys.max - 8)
      write(rec, "vacuum", shadow, 0L)(Snapshots.vacuum(spark, table, retain)) && {
        versions.keys.filter(_ < retain).toSeq.foreach(versions.remove)
        true
      }
    }

  private def op(kind: String, rec: Recorder): Boolean = kind match {
    case "partition" =>
      val d = date(recentDate())
      read(rec, "readPartition", shadow.values.filter(_.event_date == d)) {
        Snapshots.readPartition(spark, table, "event_date", d) }
    case "in" =>
      inCalls += 1
      val us = Seq.fill(Seq(1, 4, 8)(inCalls % 3))(user(rnd.nextDouble())).distinct
      read(rec, "readIn", shadow.values.filter(r => us.contains(r.user_id))) {
        Snapshots.readIn(spark, table, "user_id", us.map(_.toString)) }
    case "range" =>
      val lo = (rnd.nextDouble() * nextKey).toLong
      val hi = lo + Rows / 50
      read(rec, "readRange",
        shadow.values.filter(r => r.event_id >= lo && r.event_id <= hi)) {
        Snapshots.readRange(spark, table, "event_id", lo.toString, hi.toString) }
    case "asof" =>
      val v = math.max(versions.keys.min, versions.keys.max - 3)
      val d = date(rnd.nextInt(Dates))
      read(rec, "readAsOf", versions(v).values.filter(_.event_date == d)) {
        Snapshots.readAsOf(spark, table, v).where(col("event_date") === d) }
    case "append" =>
      val rows = freshRows(2000)
      val frame = rows.toDF()
      write(rec, "commitAppend", shadow ++ rows.map(r => r.event_id -> r),
        rows.size) { Snapshots.commitAppend(frame, table, "event_date", Stats) }
    case "overwrite" =>
      val day = recentDate()
      val d = date(day)
      val old = shadow.values.filter(_.event_date == d).toSeq
      val rows = old.map(r => r.copy(amount_cents = (r.amount_cents + 7) % 20000)) ++
        freshRows(500).map(_.copy(event_date = d))
      val frame = rows.toDF()
      val next = shadow -- old.map(_.event_id) ++ rows.map(r => r.event_id -> r)
      write(rec, "commitOverwritePartition", next, rows.size) {
        Snapshots.commitOverwritePartition(frame, table, "event_date", d, Stats) }
    case "merge" =>
      val keys = recentKeys(300)
      val (upd, del) = keys.splitAt(250)
      val ins = freshRows(100)
      val upRows = upd.map(k => shadow(k).copy(amount_cents = rnd.nextInt(20000)))
      val changes = upRows.map(r => (r, "U")) ++ ins.map(r => (r, "I")) ++
        del.map(k => (shadow(k), "D"))
      val frame = changes.map { case (r, o) =>
        (r.event_id, r.user_id, r.event_type, r.amount_cents, r.event_date, o)
      }.toDF("event_id", "user_id", "event_type", "amount_cents", "event_date", "op")
      val next = shadow -- del ++ (upRows ++ ins).map(r => r.event_id -> r)
      write(rec, "mergeRows", next, changes.size) {
        Snapshots.mergeRows(spark, table, "event_date", "event_id", frame,
          statsCols = Stats) }
    case "delete" =>
      val keys = recentKeys(100)
      val frame = keys.toDF("event_id")
      write(rec, "deleteRowsMoR", shadow -- keys, keys.size) {
        Snapshots.deleteRowsMoR(spark, table, "event_id", frame) }
  }

  override def finish(): Json.Raw = {
    // space amplification: table dir vs a compact rewrite of the live rows
    val live = s"$work/live-rewrite"
    Snapshots.read(spark, table).write.mode("overwrite").parquet(live)
    val cur = Snapshots.currentVersion(spark, table)
    val tableF = new File(table)
    Json.obj("table_bytes" -> Fs.bytes(tableF),
      "live_bytes" -> Fs.bytes(new File(live)), "live_rows" -> shadow.size,
      "version" -> cur, "commits" -> commits,
      "manifests" -> manifests)
  }

  def inputs: Json.Raw = Json.obj("store_rows" -> Rows, "partitions" -> Dates,
    "users" -> StoreMixed.Users, "store_files" -> setupSize._1,
    "store_bytes" -> setupSize._2, "manifest_bytes" -> setupSize._3)
}

object StoreMixed {
  val Users = 5000
  private val Types = Vector("login", "view_item", "add_to_cart", "purchase")

  def date(i: Int): String =
    java.time.LocalDate.of(2025, 1, 1).plusDays(i.toLong).toString

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Zipf-like user id from a uniform draw: small ids are far more frequent. */
  def user(u: Double): Long = (math.pow(u, 3) * Users).toLong + 1

  /** Row `id` of the seeded table, landing in date partition `day`. */
  def row(seed: Long, id: Long, day: Int): StoreRow = {
    val h = mix(seed * 1000003L + id)
    val u = ((h >>> 11) & ((1L << 40) - 1)).toDouble / (1L << 40)
    StoreRow(id, user(u), Types(((h >>> 3) & 3).toInt),
      (h >>> 20) % 20000, date(day))
  }
}

// ---------------------------------------------------------------------------

/** Oracle-checked engine queries over seeded star-schema tables, in a fixed
  * order, each materialized as a parquet write whose output the runner
  * compares with DuckDB running the query's oracle SQL. */
final class QueryMix(spark: SparkSession, work: String, data: String,
    Names: Seq[String]) extends Workload {
  private val inv = graft.SparkEntry.inventory.filter(q => Names.contains(q.name))
    .sortBy(q => Names.indexOf(q.name))
  require(inv.size == Names.size,
    s"queries missing from the inventory: ${Names.diff(inv.map(_.name))}")
  private def runQ(q: graft.queries.Q, out: String): Map[String, Any] = {
    val b0 = System.nanoTime()
    val df = q.run(spark, data)
    val build = (System.nanoTime() - b0) / 1e9
    df.write.mode("overwrite").parquet(out)
    Map("build_s" -> build)
  }

  /** Set-up: the first query, cold. */
  def setup(): Unit = runQ(inv.head, s"$work/setup/${inv.head.name}")

  override def warm(rec: Recorder): Unit =
    inv.foreach(q => runQ(q, s"$work/warm/${q.name}"))

  def pass(p: Int, rec: Recorder): Boolean = inv.forall { q =>
    val out = s"$work/out/${q.name}/p$p"
    rec.op(q.name, "query") {
      runQ(q, out) + ("out" -> out) + ("plan_layer" -> "queries")
    } >= 0
  }

  override def finish(): Json.Raw =
    Json.obj("oracle" -> Json.Raw(Json.value(
      graft.SparkEntry.oracleSql.filter { case (k, _) => Names.contains(k) })))

  def inputs: Json.Raw = {
    val d = new File(data)
    Json.obj("table_bytes" -> Fs.bytes(d), "queries" -> Names)
  }
}

object QueryMix {
  /** One query per engine area whose cost a pass can afford: TPC-H
    * aggregation and join, the reference DQ counters, windows, interval
    * and record-linkage joins, BM25 text indexing and graph iteration. */
  val Default: Seq[String] = Seq(
    "q1_pricing_summary", "q5_local_supplier_volume", "ref_dq_counters",
    "q_session_window", "q_interval_overlap", "q_record_linkage",
    "text_bm25_persist", "q_components_copurchase")
}
