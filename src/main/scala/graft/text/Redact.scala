package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII masking for training-data curation — the scrubbing step every
  * production corpus pipeline runs before packing (emails, phone numbers,
  * IP addresses → stable mask tokens, so downstream dedup/fingerprints see
  * identical text for identical non-PII content).
  *
  * Everything is `regexp_replace` over built-in expressions: row-local,
  * codegen'd, zero shuffle, linear in corpus size — the ideal 100 TB shape.
  * Patterns deliberately use only portable regex constructs (character
  * classes, bounded repetition, ASCII word boundaries) that behave
  * identically in Java regex (Spark) and RE2 (DuckDB/Go scrubbers), so the
  * same patterns can run in the oracle and in sidecar tooling.
  *
  * Masks are angle-bracket tokens (the C4/Dolma convention) that survive
  * whitespace tokenization as single pseudo-words, keeping token counts
  * stable for the packing stage.
  */
object Redact {

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad with 1-3 digit octets; \\b keeps version strings like
    * `1.2.3.4.5` from partially matching at the edges of longer runs.
    */
  val IPv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** North-American-style groups: optional area code, exchange-number. */
  val PhonePattern = "\\b(\\d{3}[-. ])?\\d{3}[-. ]\\d{4}\\b"

  def redactEmails(c: Column): Column = regexp_replace(c, EmailPattern, "<EMAIL>")
  def redactIPv4(c: Column): Column = regexp_replace(c, IPv4Pattern, "<IP>")
  def redactPhones(c: Column): Column = regexp_replace(c, PhonePattern, "<PHONE>")

  /** Full scrub. Order matters and is fixed: emails first (their local part
    * can contain digit runs a later pass would half-match), then IPs (dotted
    * digit groups would otherwise partially match the phone pattern), then
    * phones over what remains.
    */
  def redactAll(c: Column): Column =
    redactPhones(redactIPv4(redactEmails(c)))

  /** Occurrences of `pattern` in `c` — portable count via split: a string
    * with n matches splits into n+1 pieces. (Spark's regexp_count works
    * too; split keeps the expression identical to the DuckDB oracle's
    * len(string_split_regex)-1 form.)
    */
  def patternCount(c: Column, pattern: String): Column =
    (size(split(c, pattern)) - 1).cast("long")

  /** Total PII matches across the three built-in pattern families. */
  def piiMatchCount(c: Column): Column =
    patternCount(c, EmailPattern) + patternCount(c, IPv4Pattern) +
      patternCount(c, PhonePattern)

  /** PII density per 100 whitespace tokens — the quarantine signal a
    * curation gate thresholds on (a doc that is MOSTLY contact strings is
    * scraped boilerplate/directory content, not prose; masking it would
    * leave token soup). One IEEE division of exact integers ⇒
    * oracle-deterministic.
    */
  def piiDensityPer100(c: Column): Column =
    piiMatchCount(c).cast("double") * lit(100.0) /
      size(split(c, " ")).cast("double")

  /** Deterministic pseudonymization of a join key: a salted md5-prefix hex
    * pseudonym — the GDPR-style re-keying that preserves join structure
    * (same input ⇒ same pseudonym; different salt ⇒ unlinkable across
    * releases) without a lookup table to protect. 64 hex bits; callers
    * audit collisions with a countDistinct compare (see the
    * pseudonymize_users query), the same bounded-risk discipline as the
    * fingerprint family.
    */
  def pseudonymizeKey(c: Column, salt: String): Column =
    substring(md5(concat(lit(salt + ":"), c.cast("string"))), 1, 16)
}
