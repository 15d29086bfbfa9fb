package graft

import graft.ext.TextOps

/** PII scrub: detection counts + redaction in one codegen'd projection.
  * The pattern ORDER is part of the contract — phones scrub before SSNs
  * so a phone can never be re-matched as an SSN fragment.
  */
class PiiScrubSpec extends SparkSpec {
  import spark.implicits._

  test("emails, phones, SSNs and IPs are counted and redacted; clean text " +
      "passes through untouched") {
    val df = Seq(
      (1L, "reach me at jo.na+x@mail-host.co.uk or 555-123-4567 thanks"),
      (2L, "ssn 123-45-6789 from 192.168.0.1 twice: 10.0.0.2"),
      (3L, "nothing sensitive here at all")
    ).toDF("doc_id", "text")
    val out = TextOps.scrubPii(df, "text")
      .select("doc_id", "n_email", "n_phone", "n_ssn", "n_ipv4", "text_scrubbed")
      .as[(Long, Int, Int, Int, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 1 && out(1L)._3 == 1 && out(1L)._4 == 0)
    assert(out(1L)._6 == "reach me at <EMAIL> or <PHONE> thanks")
    assert(out(2L)._4 == 1 && out(2L)._5 == 2)
    assert(out(2L)._6 == "ssn <SSN> from <IP> twice: <IP>")
    assert(out(3L)._6 == "nothing sensitive here at all")
    assert(out(3L)._2 + out(3L)._3 + out(3L)._4 + out(3L)._5 == 0)
  }

  test("a phone number is never double-matched as an SSN (scrub order)") {
    val out = TextOps.scrubPii(
      Seq((1L, "call 555-867-5309 now")).toDF("doc_id", "text"), "text")
      .select("n_phone", "n_ssn", "text_scrubbed")
      .as[(Int, Int, String)].head()
    assert(out == ((1, 0, "call <PHONE> now")))
  }
}
