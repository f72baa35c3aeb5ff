package graft

import java.nio.file.Paths
import java.util.Locale

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private def line(results: Map[String, Either[Throwable, Double]]): String =
    Bench.contractLine(results, reps = 2, cpus = 4, bootId = "b00t", sf = "/data/sf0.1", ts = 1L)

  test("the contract line holds one total metric and parses as JSON") {
    val l = line(Map("q01_a" -> Right(0.25), "q02_b" -> Right(1.5)))
    assert("\"metric\":\"total\"".r.findAllMatchIn(l).size == 1)
    assert(!l.contains("\n"))
    val j = parse(l)
    assert(j \ "metric" == JString("total"))
    assert(j \ "value" == JDecimal(1.75) || j \ "value" == JDouble(1.75))
    assert(j \ "cpus" == JInt(4))
    assert(j \ "boot_id" == JString("b00t"))
    assert((j \ "queries").asInstanceOf[JObject].obj.map(_._1) == List("q01_a", "q02_b"))
  }

  test("a failed query reads -1, lands in errors and adds nothing to the total") {
    val l = line(Map("q01_a" -> Right(0.5), "q02_b" -> Left(new RuntimeException("boom"))))
    val j = parse(l)
    assert(j \ "queries" \ "q02_b" == JInt(-1))
    assert((j \ "errors" \ "q02_b").asInstanceOf[JString].s.contains("boom"))
    assert((j \ "errors" \ "q01_a") == JNothing)
    assert(j \ "n_errors" == JInt(1))
    assert(l.contains("\"value\":0.500"))
  }

  test("quotes, backslashes, tabs and newlines in an error message keep the JSON valid") {
    val msg = "bad \"quote\" back\\slash\ttab\nnew\rline\u0001"
    val j = parse(line(Map("q03_c" -> Left(new IllegalStateException(msg)))))
    val err = (j \ "errors" \ "q03_c").asInstanceOf[JString].s
    assert(err.contains("bad  quote  back slash tab new line"))
  }

  test("f3 prints a decimal point under any default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(Bench.f3(0.12345) == "0.123")
      assert(Bench.f3(-1.0) == "-1")
      assert(line(Map("q01_a" -> Right(0.123))).contains("\"q01_a\":0.123"))
    } finally Locale.setDefault(prev)
  }

  test("minOfReps keeps the fastest run, or the first failure") {
    var n = 0
    val ok = Bench.minOfReps(3) { n += 1; Thread.sleep(if (n == 2) 1 else 200) }
    assert(n == 3 && ok.exists(_ < 0.2))
    n = 0
    val failed = Bench.minOfReps(3) { n += 1; if (n == 2) sys.error("rep 2") }
    assert(n == 2 && failed.left.exists(_.getMessage == "rep 2"))
  }

  test("only an artifact inside the journal's directory is journaled") {
    val history = Paths.get("BENCH_HISTORY.jsonl")
    assert(Bench.journaled(Paths.get("./BENCH_SELF.json"), history))
    assert(Bench.journaled(Paths.get("BENCH_ROUND.json"), history))
    assert(!Bench.journaled(Paths.get("/tmp/b.json"), history))
    assert(!Bench.journaled(Paths.get("../elsewhere/BENCH_ROUND.json"), history))
    val repo = Paths.get("/srv/repo/BENCH_HISTORY.jsonl")
    assert(Bench.journaled(Paths.get("/srv/repo/plans/x.json"), repo))
    assert(!Bench.journaled(Paths.get("/srv/other/x.json"), repo))
  }
}
