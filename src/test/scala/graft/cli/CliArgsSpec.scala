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
    assert(parse("transcripts", "--table", "d", "--checkpoint", "m.json",
      "--max-concurrent", "2") ==
      Right("transcripts" -> Map("table" -> "d", "checkpoint" -> "m.json",
        "max-concurrent" -> "2")))
    assert(parse("ann", "--table", "t", "--centroids", "c.json", "--k", "3") ==
      Right("ann" -> Map("table" -> "t", "centroids" -> "c.json", "k" -> "3")))
  }

  test("a misspelt option is rejected, not ignored") {
    assert(parse("transcripts", "--table", "d", "--checkpiont", "m.json") ==
      Left("unknown option --checkpiont"))
    // every snapshot id is content-checked: no flag selects that any more
    assert(parse("transcripts", "--table", "d", "--content-digest") ==
      Left("unknown option --content-digest"))
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

  test("each mode's required options are checked before Spark starts") {
    assert(parse("transcripts", "--checkpoint", "m.json") == Left("transcripts requires --table"))
    assert(parse("kye", "--data", "t.parquet", "--model", "M") == Left("kye requires --schema"))
    assert(parse("kye", "--schema", "s.kye", "--model", "M") ==
      Left("--model requires --data"))
    assert(parse("kye", "--schema", "s.kye") == Left("kye requires --model or --compile"))
    assert(parse("kye", "--schema", "s.kye", "--data", "t.parquet") ==
      Left("kye requires --model or --compile"))
    assert(parse("ann", "--table", "t") == Left("ann requires --centroids"))
    assert(parse("ann", "--centroids", "c.json") == Left("ann requires --table"))
    // compile-only needs neither --model nor --data
    assert(parse("kye", "--schema", "s.kye", "--compile", "out.json") ==
      Right("kye" -> Map("schema" -> "s.kye", "compile" -> "out.json")))
  }

  test("numeric options must be well-formed") {
    assert(parse("transcripts", "--table", "d", "--checkpoint", "m.json",
      "--partition-timeout-ms", "soon") ==
      Left("--partition-timeout-ms requires a non-negative integer, got 'soon'"))
    assert(parse("transcripts", "--table", "d", "--checkpoint", "m.json",
      "--partition-timeout-ms", "-1") ==
      Left("--partition-timeout-ms requires a non-negative integer, got '-1'"))
    assert(parse("transcripts", "--table", "d", "--checkpoint", "m.json",
      "--partition-timeout-ms", "0").isRight)
    assert(parse("transcripts", "--table", "d", "--max-concurrent", "0") ==
      Left("--max-concurrent requires a positive integer, got '0'"))
    assert(parse("kye", "--schema", "s.kye", "--compile", "o.json", "--max-group-values", "x") ==
      Left("--max-group-values requires a positive integer, got 'x'"))
    for (k <- Seq("n-lists", "k", "n-probe"))
      assert(parse("ann", "--table", "t", "--centroids", "c.json", s"--$k", "0") ==
        Left(s"--$k requires a positive integer, got '0'"))
  }

  test("concurrency and the partition watcher need --checkpoint") {
    assert(parse("transcripts", "--table", "d", "--max-concurrent", "4") ==
      Left("--max-concurrent requires --checkpoint"))
    assert(parse("transcripts", "--table", "d", "--partition-timeout-ms", "60000") ==
      Left("--partition-timeout-ms requires --checkpoint"))
    // one partition at a time is what a run without --checkpoint does anyway
    assert(parse("transcripts", "--table", "d", "--max-concurrent", "1") ==
      Right("transcripts" -> Map("table" -> "d", "max-concurrent" -> "1")))
  }
}
