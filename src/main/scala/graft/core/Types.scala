package graft.core

import org.apache.spark.sql.types._

/** Feature-store type system, mirroring the reference's 3-type system
  * (reference: setup.sh:82-85 — Integral / Fractional / String) plus a
  * native timestamp type (the reference stores event time as an ISO-8601
  * STRING, setup.sh:135; we keep native TimestampType internally and
  * format only at API edges — SURVEY.md §1.2).
  */
sealed trait FType { def spark: DataType }
object FType {
  /** 64-bit internally even though the reference declares INT — 100 TB-scale keys. */
  case object Integral extends FType { val spark: DataType = LongType }
  case object Fractional extends FType { val spark: DataType = DoubleType }
  case object FString extends FType { val spark: DataType = StringType }
  case object FTimestamp extends FType { val spark: DataType = TimestampType }

  def fromName(s: String): FType = s match {
    case "Integral"   => Integral
    case "Fractional" => Fractional
    case "String"     => FString
    case "Timestamp"  => FTimestamp
    case other        => throw new IllegalArgumentException(
      s"unknown feature type '$other' (expected Integral|Fractional|String|Timestamp)")
  }
  /** Case-insensitive [[fromName]] — the single home for the SQL statement
    * faces' lenient type spelling ('integral', 'STRING', ...). Any future
    * accepted alias lands here once instead of diverging across the
    * create/add/widen commands (round-12 review). */
  def fromNameCI(s: String): FType = // Locale.ROOT: 'I' must not dot under tr-TR
    fromName(s.trim.toLowerCase(java.util.Locale.ROOT).capitalize)

  def name(t: FType): String = t match {
    case Integral   => "Integral"
    case Fractional => "Fractional"
    case FString    => "String"
    case FTimestamp => "Timestamp"
  }
}

/** @param since first `_ingest_seq` at which this feature's stored values
  *   are REAL (0 = since the group's creation). Set by
  *   [[FeatureStore.addFeature]] when a feature is declared on a group
  *   that already has history: a RE-ADDED column must read as null for
  *   rows written before the re-add even though the old bytes still sit
  *   in parquet (drop was metadata-only) — every read path masks
  *   `_ingest_seq < since` to null until compaction physically erases
  *   the bytes.
  * @param renames this feature's prior names, NEWEST FIRST, each with the
  *   `_ingest_seq` at which the rename took effect — `(n, s)` means "rows
  *   with `_ingest_seq < s` stored this feature under column `n`" (down to
  *   the previous entry's seq, or 0 for the oldest). Set by
  *   [[FeatureStore.renameFeature]] (also metadata-only): readers resolve
  *   each row's ERA to the column that held the value when the row was
  *   written, with an adaptive fallback — an alias column absent from a
  *   layout means a rewrite (compaction / full refresh) already
  *   materialized that era under the CURRENT name, so the current column
  *   is authoritative there. */
final case class FeatureDef(name: String, ftype: FType, since: Long = 0L,
    renames: Seq[(String, Long)] = Nil)

/** Per-batch ingest observability (collected via `Dataset.observe` — the
  * metrics ride the offline-append job itself, no extra scan): row count
  * plus the two integrity counters that matter for a feature store. A null
  * key would silently pool into one argmax group in the online snapshot; a
  * null event time can never win a latest-per-key race. Production
  * monitoring alerts on either being nonzero. */
final case class IngestMetrics(rows: Long, nullKeys: Long, nullEventTimes: Long)

/** A named, schema-typed entity table with a declared record-identifier
  * column and event-time column (reference: setup.sh:78-89,
  * `create-feature-group --record-identifier-feature-name customer_id
  * --event-time-feature-name event_time`).
  */
final case class FeatureGroup(
    name: String,
    keyCol: String,
    eventTimeCol: String,
    features: Seq[FeatureDef]) {

  // Names are restricted so the flat-JSON manifest round-trips without an
  // escape-aware parser (quotes/backslashes in names would corrupt it).
  require(FeatureGroup.isValidName(name), s"group name must match [A-Za-z0-9_]+: '$name'")
  features.foreach(f => require(FeatureGroup.isValidName(f.name),
    s"feature name must match [A-Za-z0-9_]+: '${f.name}'"))
  require(features.exists(_.name == keyCol), s"key column $keyCol must be a declared feature")
  require(features.exists(_.name == eventTimeCol), s"event-time column $eventTimeCol must be a declared feature")

  /** User-visible schema (no engine columns). */
  def schema: StructType =
    StructType(features.map(f => StructField(f.name, f.ftype.spark)))

  def featureNames: Seq[String] = features.map(_.name)
}

object FeatureGroup {
  private val NameRe = "[A-Za-z0-9_]+".r
  def isValidName(s: String): Boolean = NameRe.matches(s)
}

object EngineColumns {
  /** Monotone per-ingest batch id; tie-break for latest-per-key when two
    * records share (key, event_time) — reference semantics are
    * last-writer-wins in arrival order (update_feature_store.py:26-27);
    * ours is deterministic: max(event_time, ingest_seq). SURVEY.md §2.5 A1. */
  val IngestSeq = "_ingest_seq"
  /** Partition column of the offline store — gives partition pruning the
    * reference never had (its LOCATION is the bucket root, setup.sh:140). */
  val IngestDate = "_ingest_date"
  /** Key bucket of the ONLINE snapshot: crc32(key-as-string) mod the
    * version's bucket count (recorded in `v<N>/_meta`; grows with key
    * count). The online write clusters on it, one KV file
    * `_serving/bucket=<b>.kv` per bucket, so a point lookup on a snapshot
    * too large for the driver-side serving cache opens one file
    * (FeatureStore.getRecord fall-through). Versions earlier builds wrote
    * (parquet partitioned by it) are not read: `refreshOnline` rebuilds
    * them from history and `gcOnline` removes them. */
  val KeyBucket = "_key_bucket"
}
