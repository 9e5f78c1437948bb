package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * PII redaction — the pre-release scrub every published web corpus runs
 * (the C4/Dolma/FineWeb shape): regex-match emails, IPv4 addresses and
 * phone numbers, replace each with a typed placeholder token, and report
 * per-category counts so the pipeline can quarantine PII-dense pages.
 *
 * Patterns are ENGINE POLICY, deterministic and deliberately simple (like
 * UrlOps' canonical form): real deployments tune them per corpus; what the
 * engine owns is the plumbing — a single codegen'd scan, no UDF, no
 * shuffle, columnar all the way. Redaction is staged email -> IPv4 ->
 * phone, each stage counting on the PREVIOUS stage's output, so the counts
 * are exactly "placeholders this stage inserted" (an email's numeric
 * domain can never double-count as an address).
 *
 * Scale: three regexp_replace/regexp_count pairs fused into one
 * whole-stage-codegen projection — the text is read once per row on the
 * map side; nothing aggregates, nothing reaches the driver.
 */
object Pii {

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  /** International-prefix phone form `+CC-NNN[N]-NNNN` (engine policy). */
  val PhonePattern = "\\+\\d{1,3}-\\d{3,4}-\\d{4}"

  val EmailToken = "<EMAIL>"
  val IpToken = "<IP>"
  val PhoneToken = "<PHONE>"

  /**
   * Per-document redaction: `redacted` plus `n_emails`/`n_ips`/`n_phones`
   * (longs — the count of placeholders each stage inserted).
   */
  def redactDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        regexp_count(col(textCol), lit(EmailPattern)).cast("long").as("n_emails"),
        regexp_replace(col(textCol), EmailPattern, EmailToken).as("__t1"))
      .select(col(idCol), col("n_emails"),
        regexp_count(col("__t1"), lit(Ipv4Pattern)).cast("long").as("n_ips"),
        regexp_replace(col("__t1"), Ipv4Pattern, IpToken).as("__t2"))
      .select(col(idCol), col("n_emails"), col("n_ips"),
        regexp_count(col("__t2"), lit(PhonePattern)).cast("long").as("n_phones"),
        regexp_replace(col("__t2"), PhonePattern, PhoneToken).as("redacted"))
}
