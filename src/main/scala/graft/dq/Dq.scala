package graft.dq

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.schema.EventSchema

/** The six DQ counters, computed in ONE aggregation pass.
  *
  * The reference runs six separate Spark actions — four filtered counts,
  * a groupBy-count, and an agg-collect (ref:
  * raw_to_curated_events_v3_dq.py:70-82), i.e. six scans of the batch.
  * Here all counters are conditional aggregates in a single `agg`, one
  * scan, map-side combinable — the optimization SURVEY §2.9 mandates,
  * with counter values provably identical (DqSpec covers each trap).
  */
final case class DqCounters(
    totalRows: Long,
    nullEventId: Long,
    nullEventType: Long,
    nullUserId: Long,
    invalidEventType: Long,
    dupExtraRows: Long) {

  /** Driver-side rate derivation, division-by-zero guarded
    * (ref: raw_to_curated_events_v3_dq.py:85-87). */
  def nullUserRate: Double =
    if (totalRows > 0) nullUserId.toDouble / totalRows else 0.0
  def dupRate: Double =
    if (totalRows > 0) dupExtraRows.toDouble / totalRows else 0.0
}

object DqCounters {

  /** The five counters that are plain conditional counts, defined once
    * for both paths that compute them: [[compute]]'s single `agg`, and
    * the pipeline's `Observation` on its staged write. Spark rejects
    * distinct aggregates in observed metrics, so `dup_extra_rows`
    * ([[dupExtraRows]]) is not among them.
    *
    * invalid_event_type uses negated `isin`: NULL event_type yields NULL
    * (not true) under SQL three-valued logic, so nulls are NOT counted as
    * invalid — they are counted by null_event_type
    * (ref: raw_to_curated_events_v3_dq.py:78; SURVEY §2.4 F3). */
  def plainColumns(allowed: Seq[String] = EventSchema.allowedEventTypes)
      : Seq[Column] = Seq(
    count(lit(1)).as("total_rows"),
    count(when(col("event_id").isNull, 1)).as("null_event_id"),
    count(when(col("event_type").isNull, 1)).as("null_event_type"),
    count(when(col("user_id").isNull, 1)).as("null_user_id"),
    count(when(!col("event_type").isin(allowed: _*), 1))
      .as("invalid_event_type"))

  /** dup_extra_rows = Σ over event_id groups of (count-1), nulls forming
    * ONE group like groupBy does (ref: ..._v3_dq.py:81-83): computed
    * scan-free of a groupBy as
    * total - countDistinct(event_id) - [1 if any null event_id]. */
  def dupExtraRows: Column =
    (count(lit(1)) - count_distinct(col("event_id")) -
      coalesce(max(when(col("event_id").isNull, 1).otherwise(0)), lit(0)))
      .as("dup_extra_rows")

  /** Single-pass counter computation: [[plainColumns]] and
    * [[dupExtraRows]] in one `agg`. Empty input ⇒ all counters 0 (the
    * reference coalesces the NULL sum at :83). */
  def compute(df: DataFrame,
      allowed: Seq[String] = EventSchema.allowedEventTypes): DqCounters = {
    val row = df.agg(dupExtraRows, plainColumns(allowed): _*).head()
    fromMetrics(row.getValuesMap(row.schema.fieldNames.toSeq),
      row.getLong(0))
  }

  /** Counters from the [[plainColumns]] metrics by name (an agg row or
    * an `Observation`), plus dup_extra_rows from wherever the caller
    * counted it. */
  def fromMetrics(metrics: Map[String, Any], dups: Long): DqCounters = {
    def n(name: String) = metrics(name).asInstanceOf[Long]
    DqCounters(
      totalRows = n("total_rows"),
      nullEventId = n("null_event_id"),
      nullEventType = n("null_event_type"),
      nullUserId = n("null_user_id"),
      invalidEventType = n("invalid_event_type"),
      dupExtraRows = dups)
  }
}

/** Per-value row counts of a string column as ONE aggregate, so a tally
  * (event types, quarantine reasons) can be observed (Spark
  * `Observation`) instead of costing its own `groupBy` action. A Spark
  * map cannot hold a null key, so null values are skipped; callers that
  * need their count take it from a counter (e.g. `null_event_type`). */
object Tally extends Aggregator[String, Map[String, Long], Map[String, Long]] {
  override def zero: Map[String, Long] = Map.empty
  override def reduce(b: Map[String, Long], v: String): Map[String, Long] =
    if (v == null) b else b.updated(v, b.getOrElse(v, 0L) + 1L)
  override def merge(x: Map[String, Long], y: Map[String, Long])
      : Map[String, Long] =
    y.foldLeft(x) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) }
  override def finish(b: Map[String, Long]): Map[String, Long] = b
  override def bufferEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()

  /** The tally of `c` as a column named `name`. */
  def apply(c: Column, name: String): Column =
    udaf(Tally, Encoders.STRING)(c).as(name)

  /** Read a tally back from observed metrics. */
  def of(metrics: Map[String, Any], name: String): Map[String, Long] =
    metrics(name).asInstanceOf[scala.collection.Map[String, Long]].toMap
}

/** One DQ rule: evaluates the counters to an optional failure message.
  * Sealed ADT so the rule set is closed and exhaustively testable
  * (SURVEY §2.9 mapping). */
sealed trait DqCheck {
  def evaluate(c: DqCounters): Option[String]
}

object DqCheck {
  val MaxNullUserIdRate = 0.03 // ref: raw_to_curated_events_v3_dq.py:25
  val MaxDupEventIdRate = 0.02 // ref: raw_to_curated_events_v3_dq.py:26

  /** D1 (ref: ..._v3_dq.py:111-112) */
  case object NonEmpty extends DqCheck {
    def evaluate(c: DqCounters): Option[String] =
      if (c.totalRows == 0) Some("No rows found (total_rows == 0)") else None
  }
  /** D2 (ref: ..._v3_dq.py:113-114) */
  case object EventIdNotNull extends DqCheck {
    def evaluate(c: DqCounters): Option[String] =
      if (c.nullEventId > 0) Some(s"event_id has nulls: ${c.nullEventId}")
      else None
  }
  /** D3 (ref: ..._v3_dq.py:115-116) */
  case object EventTypeNotNull extends DqCheck {
    def evaluate(c: DqCounters): Option[String] =
      if (c.nullEventType > 0)
        Some(s"event_type has nulls: ${c.nullEventType}")
      else None
  }
  /** D4 (ref: ..._v3_dq.py:117-118) */
  case object EventTypeInDomain extends DqCheck {
    def evaluate(c: DqCounters): Option[String] =
      if (c.invalidEventType > 0)
        Some(s"event_type has invalid values: ${c.invalidEventType}")
      else None
  }
  /** Locale-stable %.4f (the f-interpolator honors the JVM default
    * locale; a comma-decimal locale would change the message format). */
  private def f4(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** D5 (ref: ..._v3_dq.py:119-120) */
  case object NullUserRate extends DqCheck {
    def evaluate(c: DqCounters): Option[String] =
      if (c.nullUserRate > MaxNullUserIdRate)
        Some(s"user_id null rate too high: ${f4(c.nullUserRate)} > $MaxNullUserIdRate")
      else None
  }
  /** D6 (ref: ..._v3_dq.py:121-122; definition docs/design.md:107) */
  case object DupEventIdRate extends DqCheck {
    def evaluate(c: DqCounters): Option[String] =
      if (c.dupRate > MaxDupEventIdRate)
        Some(s"duplicate event_id rate too high: ${f4(c.dupRate)} > $MaxDupEventIdRate")
      else None
  }

  /** The reference's gate, in its order (messages joined in this order on
    * failure, ref: ..._v3_dq.py:109-122). */
  val all: Seq[DqCheck] = Seq(NonEmpty, EventIdNotNull, EventTypeNotNull,
    EventTypeInDomain, NullUserRate, DupEventIdRate)
}

/** The per-run DQ report — exact field set of the reference's JSON
  * artifact (ref: raw_to_curated_events_v3_dq.py:89-106,124-126;
  * FIXTURES.md §A.3). `failures` present only on FAIL; `warnings`
  * (non-gating alerts, e.g. [[Anomaly]] volume deviations) present only
  * when non-empty, so the emitted JSON is byte-identical to the
  * reference's artifact whenever neither fires. */
final case class DqReport(
    ingestionDate: String,
    rawPath: String,
    curatedPartitionPath: String,
    counters: DqCounters,
    failures: Seq[String],
    warnings: Seq[String] = Nil) {

  def status: String = if (failures.isEmpty) "PASS" else "FAIL"

  /** Explicit field list, fixed order — not reflection (SURVEY §7.4). */
  def toJson: String = {
    def s(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val base = Seq(
      "ingestion_date" -> s(ingestionDate),
      "raw_path" -> s(rawPath),
      "curated_partition_path" -> s(curatedPartitionPath),
      "total_rows" -> counters.totalRows.toString,
      "null_event_id" -> counters.nullEventId.toString,
      "null_event_type" -> counters.nullEventType.toString,
      "null_user_id" -> counters.nullUserId.toString,
      "null_user_rate" -> counters.nullUserRate.toString,
      "invalid_event_type" -> counters.invalidEventType.toString,
      "duplicate_event_id_extra_rows" -> counters.dupExtraRows.toString,
      "duplicate_event_id_rate" -> counters.dupRate.toString,
      "thresholds" -> ("{\"max_null_user_id_rate\": " + DqCheck.MaxNullUserIdRate +
        ", \"max_duplicate_event_id_rate\": " + DqCheck.MaxDupEventIdRate + "}"),
      "status" -> s(status))
    val withFailures = if (failures.isEmpty) base
      else base :+ ("failures" -> failures.map(s).mkString("[", ", ", "]"))
    val fields = if (warnings.isEmpty) withFailures
      else withFailures :+
        ("warnings" -> warnings.map(s).mkString("[", ", ", "]"))
    fields.map { case (k, v) => s"  \"$k\": $v" }
      .mkString("{\n", ",\n", "\n}")
  }
}

object Dq {
  /** Row-level quarantine split — the production evolution of the
    * all-or-nothing gate: instead of failing the whole batch when a rule
    * trips, each offending ROW is diverted with a `quarantine_reason`
    * and the clean remainder flows on. Reasons mirror the gate's
    * counters, first match wins (a row with a null event_id is
    * `null_event_id` even if it is also a duplicate):
    *
    *   null_event_id / null_event_type / null_user_id — the three
    *     nullability rules;
    *   invalid_event_type — domain violation under the same negated-isin
    *     3VL as the counter (a NULL type is null_event_type, never
    *     invalid);
    *   dup_event_id — every row past the FIRST per non-null event_id,
    *     ranked ONLY among rows that pass the null/domain rules (a copy
    *     quarantined for a null user_id must not "use up" the keep slot
    *     and doom a clean later copy); among the clean copies, first =
    *     min by (event_ts, user_id, event_type) — a total order over the
    *     payload, so identical full-row copies quarantine all but one
    *     and the survivor is deterministic.
    *
    * One window over event_id (the dedup shuffle the keep-first dedup
    * already pays) + a narrow reason projection; both outputs share the
    * scan. The clean-rank is a running sum of a clean-indicator under an
    * order that sorts clean copies first — for a clean row that running
    * sum IS its rank among clean copies, so no second pass / self-join
    * is needed to rank a filtered subset. Returns
    * (valid, quarantined-with-reason). */
  def splitQuarantine(df: DataFrame,
      allowed: Seq[String] = graft.schema.EventSchema.allowedEventTypes)
      : (DataFrame, DataFrame) =
    splitTagged(tagQuarantine(df, allowed))

  /** The tagging pass [[splitQuarantine]] splits: input rows plus `_rn`
    * (clean-copy rank), `_pos` (row position within its event_id group,
    * null ids forming one group) and `quarantine_reason` (null = valid).
    * Factored out so a caller running SEVERAL actions over the split
    * (both zone writes, counters) can localCheckpoint THIS frame once
    * and pay the scan + dedup-window shuffle a single time — the split
    * itself is two narrow filters (guide §1.2: don't recompute the same
    * pass per consumer). `_pos` shares the `_rn` window, so it adds no
    * shuffle, and [[taggedDupExtraRows]] turns it into an observable
    * dup_extra_rows. */
  def tagQuarantine(df: DataFrame,
      allowed: Seq[String] = graft.schema.EventSchema.allowedEventTypes)
      : DataFrame = {
    val clean = col("event_id").isNotNull && col("event_type").isNotNull &&
      col("user_id").isNotNull && col("event_type").isin(allowed: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id"))
      .orderBy(clean.cast("int").desc,
        col("event_ts"), col("user_id"), col("event_type"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // one projection for both window columns, so they share one Window
    // operator (stacked withColumns would plan two)
    df
      .withColumns(Map(
        "_rn" -> when(col("event_id").isNull, lit(1L))
          .otherwise(sum(clean.cast("long")).over(w)),
        "_pos" -> row_number().over(w)))
      .withColumn("quarantine_reason",
        when(col("event_id").isNull, "null_event_id")
          .when(col("event_type").isNull, "null_event_type")
          .when(col("user_id").isNull, "null_user_id")
          .when(!col("event_type").isin(allowed: _*), "invalid_event_type")
          .when(col("_rn") > 1, "dup_event_id"))
  }

  /** [[DqCounters.dupExtraRows]] over a [[tagQuarantine]] frame as a
    * plain count, so it can be observed: every row past the first of
    * its event_id group is one extra. Exact, nulls included, since the
    * window groups null ids together as `groupBy` does. */
  def taggedDupExtraRows: Column =
    count(when(col("_pos") > 1, 1)).as("dup_extra_rows")

  /** Split a [[tagQuarantine]] frame into (valid, quarantined). */
  def splitTagged(tagged: DataFrame): (DataFrame, DataFrame) =
    (tagged.where(col("quarantine_reason").isNull)
        .drop("_rn", "_pos", "quarantine_reason"),
      tagged.where(col("quarantine_reason").isNotNull).drop("_rn", "_pos"))
}
