package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the repository root lists the metrics the harness
  * prints; the two must not drift apart. */
class BenchmarkFileSpec extends AnyFunSuite {
  private val text = {
    val f = Seq("../BENCHMARK.json", "BENCHMARK.json").map(new java.io.File(_)).find(_.exists)
      .getOrElse(fail("BENCHMARK.json not found"))
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }

  private def section(key: String): Seq[(String, String, String)] = {
    val body = s""""$key"\\s*:\\s*\\[(.*?)\\]""".r.findFirstMatchIn(text.replaceAll("\\s+", " "))
      .getOrElse(fail(s"no $key in BENCHMARK.json")).group(1)
    """"name": "([^"]+)", "unit": "([^"]+)", "better": "([^"]+)"""".r
      .findAllMatchIn(body).map(m => (m.group(1), m.group(2), m.group(3))).toSeq
  }

  test("end-to-end metrics match what an untraced run prints") {
    assert(section("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match what a traced run prints") {
    assert(section("per_layer") == Main.PerLayer)
  }
}
