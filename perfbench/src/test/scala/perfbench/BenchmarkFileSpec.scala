package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the repository root names exactly the workloads and
  * metrics the program prints, with the same units.
  */
class BenchmarkFileSpec extends AnyFunSuite {

  private val text = {
    val src = scala.io.Source.fromFile(new java.io.File("../BENCHMARK.json"), "UTF-8")
    try src.mkString finally src.close()
  }

  private def section(key: String): String = {
    val open = text.indexOf('[', text.indexOf("\"" + key + "\""))
    text.substring(open, text.indexOf(']', open))
  }

  private def metrics(key: String): Seq[(String, String)] =
    "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(section(key)).map(m => m.group(1) -> m.group(2)).toSeq

  test("workloads") {
    val names = "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(section("workloads"))
      .map(_.group(1)).toSeq
    assert(names == Main.Workloads)
  }

  test("end-to-end metrics") {
    assert(metrics("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics") {
    assert(metrics("per_layer") == Main.PerLayer)
  }
}
