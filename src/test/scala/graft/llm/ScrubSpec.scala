package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

class ScrubSpec extends SparkSpecBase {

  private lazy val events = Tables.events(spark, sf)

  test("redaction leaves no digit runs behind") {
    val out = Scrub.redact(events)
    assert(out.filter(col("props_redacted").rlike("[0-9]")).count() === 0)
  }

  test("redaction count matches masks inserted") {
    val out = Scrub.redact(events)
    // n_redactions == number of '#' masks in the redacted payload
    val bad = out.filter(
      col("n_redactions") =!=
        (length(col("props_redacted")) -
          length(regexp_replace(col("props_redacted"), "#", ""))))
    assert(bad.count() === 0)
  }

  test("audit totals reconcile with row-level counts") {
    val audit = Scrub.redactionAudit(events)
    val total = audit.agg(sum("total_redactions")).head().getLong(0)
    val rowTotal = Scrub.redact(events)
      .agg(sum("n_redactions")).head().getLong(0)
    assert(total === rowTotal)
    assert(audit.agg(sum("events")).head().getLong(0) === events.count())
  }
}
