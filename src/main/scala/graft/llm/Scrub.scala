package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PII-pattern scrubbing with a compliance audit trail. A training-data
  * pipeline must redact identifier patterns (emails, phone numbers,
  * numeric ids) from raw payloads BEFORE the data reaches a training set,
  * and must be able to report what it redacted.
  *
  * The synthetic corpus carries no real PII, so the demonstrated pattern
  * family is digit-runs (the shape shared by phone numbers, SSNs, and
  * numeric user ids); swapping in the email/phone regexes is a constant
  * change. Both the replace and the count are single-pass codegen'd
  * expressions (`regexp_replace` / `regexp_extract_all`) — redaction is
  * embarrassingly parallel, and the audit is one map-side-combinable
  * aggregation. The regex is deliberately RE2-compatible so the DuckDB
  * oracle applies the identical pattern.
  */
object Scrub {

  /** Digit-run pattern: stands in for the id/phone/SSN regex family. */
  val DigitRun = "[0-9]+"
  val Mask = "#"

  /** Row-level scrub: redacted payload plus per-row redaction count. */
  def redact(events: DataFrame): DataFrame =
    events
      .withColumn("props_redacted", regexp_replace(col("props"), DigitRun, Mask))
      .withColumn("n_redactions",
        size(regexp_extract_all(col("props"), lit(DigitRun), lit(0))))

  /** Compliance audit: per event type, how many payloads were touched,
    * total redactions, and how many distinct post-redaction shapes remain
    * (a shape explosion signals the regex missed a pattern). */
  def redactionAudit(events: DataFrame): DataFrame =
    redact(events)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("events"),
        sum(col("n_redactions")).as("total_redactions"),
        countDistinct(col("props_redacted")).as("distinct_shapes"))
      .orderBy(col("event_type").asc)
}
