package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {

  /** (name, unit) pairs of one metric list in BENCHMARK.json. */
  private def declared(list: String): Seq[(String, String)] = {
    val json = scala.io.Source.fromFile("../BENCHMARK.json").mkString
    val block = json.substring(json.indexOf(s"\"$list\""))
    val body = block.substring(block.indexOf('['), block.indexOf(']') + 1)
    "\"name\": \"([^\"]+)\", \"unit\": \"([^\"]+)\"".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("the printed metrics are exactly the declared ones, in order") {
    assert(Main.EndToEnd == declared("end_to_end"))
    assert(Main.PerLayer == declared("per_layer"))
  }

  test("arguments parse, with defaults for the inputs") {
    val a = Main.parse(Seq("--workload", "etl_declared", "--seed", "7", "--seconds", "10", "--trace", "1"))
    assert(a == Main.Args("etl_declared", 7L, 10, trace = true, "perfbench/data/sf0.01",
      "perfbench/expected/sf0.01.tsv", None))
    assertThrows[IllegalArgumentException](Main.parse(Seq("--workload", "x", "--seed")))
    assertThrows[IllegalArgumentException](Workload("no_such_workload"))
  }
}
