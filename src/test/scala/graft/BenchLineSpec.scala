package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Bench stdout transport contract: the driver tail-captures
  * ~2000 bytes of stdout and parses the LAST line as JSON, so the
  * summary line must stay far under that budget NO MATTER how large
  * the registry grows (round 4 and round 6 both lost their bench grade
  * to this line outgrowing the clip window).
  */
class BenchLineSpec extends AnyFunSuite {

  /** Headroom under the driver's 2000-byte tail window: the window
    * also holds whatever precedes the line, so the line itself gets
    * half the budget at most.
    */
  private val clipBudget = 1000

  test("clean-run stdout line is small and registry-size-independent") {
    val line = Bench.stdoutLine(123.456789, 45.678901, 6, Seq.empty,
      "/root/testdata/sf0.1")
    assert(line.length < 300, s"${line.length} bytes: $line")
    // the line must not embed any per-query map — that is what grew
    // with the registry and clipped rounds 4 and 6
    assert(!line.contains("\"queries\""))
    assert(line.startsWith("""{"metric":"total","value":"""))
  }

  test("mass failure cannot push the line past the clip budget") {
    // worst case: every registered query fails with a max-length
    // (160-char, the Bench truncation) message containing characters
    // that double under JSON escaping
    val failures = Registry.all.map(q =>
      q.name -> ("\"\\" * 80)) // 160 chars, all escaping to 2 bytes
    val line = Bench.stdoutLine(0.0, 0.0, 3, failures, "/root/testdata/sf0.1")
    assert(line.length < clipBudget, s"${line.length} bytes")
    // the full count still reaches the driver even though the error
    // map is capped at MaxErrorsInline entries
    assert(line.contains(s""""n_failed":${Registry.all.size}"""))
    // control chars would escape exactly to 6 bytes each; Bench blanks
    // them, so an all-control-char failure set stays in budget too
    val ctrl = Registry.all.map(q => q.name -> ("\u0001\u001f" * 80))
    val ctrlLine = Bench.stdoutLine(0.0, 0.0, 3, ctrl, "/root/testdata/sf0.1")
    assert(ctrlLine.length < clipBudget, s"${ctrlLine.length} bytes")
  }

  test("the line stays valid JSON whatever the data dir's name") {
    val dir = "/data/a \"quoted\" dir\\with\tescapes"
    val line = Bench.stdoutLine(1.5, 0.5, 3, Seq("q" -> "Err: \u0001x"), dir)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("sf").asText === dir)
    assert(json.get("errors").get("q").asText === "Err:  x")
  }
}
