package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Table-driven PII-masking verdicts: each case is (input, expected output
  * after the full scrub). The ordering rule (emails → IPs → phones) and
  * non-matches surviving untouched are the load-bearing behaviors.
  */
class RedactSpec extends SparkSpec {
  import spark.implicits._

  private def scrubbed(cases: Seq[(String, String)]): Unit = {
    val df = cases.toDF("in", "expected")
      .withColumn("got", Redact.redactAll(col("in")))
    val wrong = df.filter(col("got") =!= col("expected"))
      .select("in", "got", "expected").collect()
    assert(wrong.isEmpty, s"divergent: ${wrong.mkString("; ")}")
  }

  test("emails, IPs, and phones mask to stable tokens") {
    scrubbed(Seq(
      ("mail bob.smith+x@sub.example.co.uk now",
        "mail <EMAIL> now"),
      ("host 192.168.0.1 down", "host <IP> down"),
      ("call 555-123-4567 today", "call <PHONE> today"),
      ("call 123 4567 today", "call <PHONE> today"),
      ("a@b.io and 10.0.0.255 and 555 867 5309",
        "<EMAIL> and <IP> and <PHONE>")))
  }

  test("near-misses survive untouched") {
    scrubbed(Seq(
      ("not an email: user at example dot com",
        "not an email: user at example dot com"),
      ("version 1.2.3 stays", "version 1.2.3 stays"),
      ("order 12-34 stays", "order 12-34 stays"),
      ("year 2026 alone stays", "year 2026 alone stays")))
  }

  test("IP octets never half-match the phone pattern") {
    // dotted quads contain no 4-digit run, so phone masking after IP
    // masking cannot fire inside an address — even unredacted
    scrubbed(Seq(
      ("213.10.0.1", "<IP>"),
      ("213.10.0.1 then 555-0000 1234", "<IP> then <PHONE> 1234")))
  }

  test("patternCount counts matches exactly") {
    val df = Seq(
      ("a@b.cc x c@d.ee y", 2L),
      ("no mail here", 0L))
      .toDF("in", "expected")
      .withColumn("got", Redact.patternCount(col("in"), Redact.EmailPattern))
    assert(df.filter(col("got") =!= col("expected")).count() === 0)
  }
}
