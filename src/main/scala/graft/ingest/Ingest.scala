package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's ingest chain F1–F5 (SURVEY.md §2.1) as pure,
  * batch/streaming-agnostic `DataFrame => DataFrame` transforms over columns
  * `topic: string`, `payload: string`.
  *
  * Reference semantics reproduced:
  *  - F1 topic validity: must start with "/" and contain ≥ 4 slashes
  *    (/root/reference/message/message.go:38-47).
  *  - F2 topic parse: split on "/"; segment 1 → client, segment 2 → device,
  *    last segment → tableName (/root/reference/message/message.go:50-61).
  *  - F3 payload parse: JSON object with required key "value"; every other
  *    key (incl. timestamp) discarded
  *    (/root/reference/message/message.go:64-94).
  *  - F4 type inference: JSON number → Float64, JSON string → String, any
  *    other JSON type rejected (/root/reference/message/message.go:97-125;
  *    Go json makes the `int` branch unreachable — SURVEY.md §1.2).
  *  - F5 composition with per-row validity; unlike the reference (which
  *    kills the pipeline on the first bad message, main.go:24-30), invalid
  *    rows are routed to a rejected-rows output (documented deviation,
  *    SURVEY.md §4.3).
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * — no UDFs — so filters/projections stay inside WholeStageCodegen and
  * push down through Catalyst.
  */
object Ingest {

  /** F1 — topic validity predicate. ≥4 slashes ⇔ split yields ≥5 parts. */
  def topicValid(topic: Column): Column =
    topic.startsWith("/") && (size(split(topic, "/")) >= 5)

  // JSON-level type of the required "value" key, detected on the raw text
  // (get_json_object strips quotes, so the raw payload is the only place the
  // number-vs-string distinction survives). Anchored on the "value" key.
  // ONE regex pass: each `"value":` occurrence yields a token — the opening
  // quote for a string, the number's first character(s) otherwise; an
  // occurrence followed by any other JSON value yields nothing. Collecting
  // ALL occurrences keeps the two-regex form's number-anywhere-wins rule
  // at half the regex scans per payload: `numRe` matched ⟺ some token
  // ≠ `"`; `strRe` matched ⟺ some token = `"`. One edge diverges:
  // non-overlapping extract_all can consume the quote that OPENS the
  // next `"value":` occurrence in pathological raw text like
  // `{"value":"value": 5}` (string-shadowed number → String where the
  // two-regex form said Float64) — inside the KNOWN LIMIT below, and
  // safe the same way: a misfire lands in rejected.
  private[ingest] val kindRe = """"value"\s*:\s*(-?(?:\d|\.\d)|")"""

  /** F4 — inferred ClickHouse type name for the payload's "value" key:
    * "Float64", "String", or null (absent / unsupported JSON type).
    *
    * KNOWN LIMIT: the regex scans the raw text, so a NESTED "value" key
    * can shadow the top-level one's JSON type (the reference's payloads
    * are flat `{"timestamp":..., "value":...}` objects, message.go:64-94,
    * so this doesn't arise in its domain). The failure mode is safe by
    * construction: a misfire makes the castability check in [[parse]]
    * fail and the row lands in rejected — never a wrong-typed record,
    * never a query-killing cast. */
  def valueType(payload: Column): Column = {
    val kinds = regexp_extract_all(payload, lit(kindRe), lit(1))
    // exists() is null-safe: a NULL payload gives NULL kinds, both
    // branches stay NULL, and the type correctly falls through to null
    when(exists(kinds, k => k =!= "\""), lit("Float64"))
      .when(size(kinds) > 0, lit("String"))
      .otherwise(lit(null).cast("string"))
  }

  /** F2 — the routed table name: the topic's last "/" segment. The one
    * definition shared by [[parse]] and the streaming pipeline's scatter
    * key, so rows are clustered by exactly the name they are routed
    * under. Null- and ANSI-safe: `split` never yields an empty array, so
    * `element_at(…, -1)` cannot go out of range; a NULL topic gives NULL,
    * `""` and a trailing "/" give `""`, a slash-free topic gives itself. */
  def tableNameOf(topic: Column): Column = element_at(split(topic, "/"), -1)

  /** F2+F3+F4 — full parse: adds tableName/client/device from the topic and
    * value_type/value_d/value_s from the payload, plus a `valid` flag.
    * Input columns: `topic`, `payload`. */
  def parse(df: DataFrame): DataFrame = {
    val parts = split(col("topic"), "/")
    // get() (not getItem/element_at) — under ANSI mode (Spark 4 default) an
    // out-of-range index THROWS; malformed short topics must flow to the
    // rejected output instead of killing the query (the reference's
    // poison-halt is exactly the bug we're not replicating).
    df.withColumn("tableName", tableNameOf(col("topic")))
      .withColumn("client", get(parts, lit(1)))
      .withColumn("device", get(parts, lit(2)))
      .withColumn("value_type", valueType(col("payload")))
      .withColumn("value_raw", get_json_object(col("payload"), "$.value"))
      // try_cast, not cast: the type regex can misfire on a payload whose
      // NESTED key is numeric while the top-level "value" is a string —
      // under ANSI (Spark 4 default) a plain cast would then throw and
      // kill the query, recreating the reference's poison-halt. try_cast
      // yields null and the row flows to rejected instead.
      .withColumn("value_d",
        when(col("value_type") === "Float64",
          expr("try_cast(value_raw AS double)")))
      .withColumn("value_s",
        when(col("value_type") === "String", col("value_raw")))
      // coalesce(false): a NULL topic makes topicValid NULL, and a
      // NULL `valid` would vanish from BOTH records() and rejected()
      .withColumn("valid", coalesce(
        topicValid(col("topic")) && col("value_type").isNotNull &&
          col("value_raw").isNotNull &&
          (col("value_type") =!= "Float64" || col("value_d").isNotNull),
        lit(false)))
      .drop("value_raw")
  }

  /** F5 — valid, fully-parsed records (the reference's `CreateRecordData`
    * success path, /root/reference/message/message.go:128-147). */
  def records(df: DataFrame): DataFrame = recordsOfParsed(parse(df))

  /** records() over an already-[[parse]]d frame — lets callers that need
    * both outputs (streaming foreachBatch) parse once. */
  def recordsOfParsed(parsed: DataFrame): DataFrame =
    parsed.filter(col("valid"))
      .select("tableName", "client", "device",
        "value_type", "value_d", "value_s")

  /** Rejected rows with a reason — the engine's replacement for the
    * reference's poison-message halt (documented deviation, SURVEY.md §4.3).
    * Reason precedence mirrors the reference's check order: topic first
    * (message.go:131), then required-key presence (message.go:72-75), then
    * value-type support (message.go:105-118). */
  def rejected(df: DataFrame): DataFrame = rejectedOfParsed(parse(df))

  /** rejected() over an already-[[parse]]d frame. */
  def rejectedOfParsed(parsed: DataFrame): DataFrame =
    parsed.filter(!col("valid"))
      .withColumn("reason",
        // coalesce: a NULL topic makes the predicate NULL; classify it
        // as invalid_topic, not fall-through
        when(coalesce(!topicValid(col("topic")), lit(true)),
          lit("invalid_topic"))
          // coalesce: contains() on a NULL payload is NULL, and a missing
          // payload IS a missing required key (message.go:72-75 order)
          .when(coalesce(!col("payload").contains("\"value\""), lit(true)),
            lit("missing_value"))
          .when(col("value_type").isNull, lit("unsupported_value_type"))
          .otherwise(lit("null_value")))
      .select(col("topic"), col("payload"), col("reason"))
}
