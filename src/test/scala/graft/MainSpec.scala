package graft

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {

  private def refused(args: String*): String =
    intercept[IllegalArgumentException](Main.parseArgs(args)).getMessage

  test("parseArgs reads --config, --input and --output") {
    assert(Main.parseArgs(Seq("--config", "c.yaml", "--output", "out",
        "--input", "in")) ==
      Map("config" -> "c.yaml", "input" -> "in", "output" -> "out"))
    assert(Main.parseArgs(Seq("--config", "c.yaml")) ==
      Map("config" -> "c.yaml"))
  }

  test("parseArgs refuses a misspelt flag instead of falling back to " +
      "the config") {
    val msg = refused("--config", "c.yaml", "--ouput", "/x")
    assert(msg.contains("unknown argument --ouput") &&
      msg.contains(Main.Usage))
  }

  test("parseArgs refuses a trailing flag with no value") {
    val msg = refused("--config", "c.yaml", "--input")
    assert(msg.contains("--input has no value") && msg.contains(Main.Usage))
  }

  test("parseArgs refuses a positional argument") {
    assert(refused("c.yaml").contains("unknown argument c.yaml"))
    assert(refused("--config", "c.yaml", "extra")
      .contains("unknown argument extra"))
  }

  test("parseArgs refuses a repeated flag and a missing --config") {
    assert(refused("--config", "a.yaml", "--config", "b.yaml")
      .contains("given twice"))
    assert(refused("--input", "in").contains("missing --config"))
    assert(refused().contains("missing --config"))
  }
}
