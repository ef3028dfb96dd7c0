package graft.cli

import org.scalatest.funsuite.AnyFunSuite

/** The CLI argument parse, in-process: it is pure and decides before any
  * Spark startup whether a command line runs or exits 2 with usage. */
class CliArgsSpec extends AnyFunSuite {

  private def parse(args: String*) = Main.parseArgs(args)

  test("each mode accepts the options its usage lists, flags bare and the rest with a value") {
    assert(parse("kye", "--schema", "s.kye", "--data", "t.parquet", "--model", "M",
      "--parity", "--max-group-values", "5") ==
      Right("kye" -> Map("schema" -> "s.kye", "data" -> "t.parquet", "model" -> "M",
        "parity" -> "true", "max-group-values" -> "5")))
    assert(parse("transcripts", "--table", "d", "--checkpoint", "m.json", "--content-digest",
      "--max-concurrent", "2") ==
      Right("transcripts" -> Map("table" -> "d", "checkpoint" -> "m.json",
        "content-digest" -> "true", "max-concurrent" -> "2")))
    assert(parse("ann", "--table", "t", "--centroids", "c.json", "--k", "3") ==
      Right("ann" -> Map("table" -> "t", "centroids" -> "c.json", "k" -> "3")))
  }

  test("a misspelt option is rejected, not ignored") {
    assert(parse("transcripts", "--table", "d", "--checkpiont", "m.json") ==
      Left("unknown option --checkpiont"))
  }

  test("an option of another mode is rejected") {
    assert(parse("kye", "--schema", "s.kye", "--checkpoint", "m.json") ==
      Left("unknown option --checkpoint"))
    assert(parse("transcripts", "--table", "d", "--parity") == Left("unknown option --parity"))
  }

  test("a bare token is rejected, not skipped") {
    assert(parse("kye", "--schema", "s.kye", "extra") == Left("unexpected argument 'extra'"))
    assert(parse("kye", "--parity", "yes") == Left("unexpected argument 'yes'"))
  }

  test("a value option without its value is rejected") {
    assert(parse("kye", "--data") == Left("option --data requires a value"))
    assert(parse("kye", "--data", "--parity") == Left("option --data requires a value"))
  }

  test("a repeated option is rejected, not last-one-wins") {
    assert(parse("transcripts", "--table", "a", "--table", "b") ==
      Left("option --table given twice"))
  }

  test("a missing or unknown mode is rejected") {
    assert(parse() == Left("missing mode"))
    assert(parse("--schema", "s.kye") == Left("unknown mode --schema"))
    assert(parse("kyee") == Left("unknown mode kyee"))
  }
}
