package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The pure key selection of `Harness medians`: sweep parsing, the
  * ">2 s, else top-8" rule, and the named key sets.
  */
class HarnessSpec extends AnyFunSuite {

  test("parseQueries reads the queries object of both Bench output lines") {
    val full = """{"metric":"total","value":9.5,"unit":"sec",""" +
      """"queries":{"a":3.25,"b":-1.0,"c":1.5E-3},"errors":{"b":"boom"},""" +
      """"n_err":1,"sf":"x"}"""
    val compact = """{"metric":"total","value":9.5,"unit":"sec","n_keys":3,""" +
      """"n_err":1,"sf":"x","artifact":"bench_latest.json",""" +
      """"queries":{"a":3.25,"c":0.002,"b":-1.0},"q_more":0}"""
    assert(Harness.parseQueries(full) == Seq("a" -> 3.25, "b" -> -1.0, "c" -> 1.5e-3))
    assert(Harness.parseQueries(compact) == Seq("a" -> 3.25, "c" -> 0.002, "b" -> -1.0))
    intercept[IllegalArgumentException](Harness.parseQueries("""{"metric":"total"}"""))
  }

  test("heaviest keeps every key over 2 s, heaviest first, and drops failed keys") {
    val sweep = Seq("a" -> 2.5, "b" -> -1.0, "c" -> 9.0, "d" -> 2.0, "e" -> 0.1)
    assert(Harness.heaviest(sweep) == Seq("c" -> 9.0, "a" -> 2.5))
  }

  test("heaviest falls back to the 8 heaviest when no key exceeds 2 s") {
    val sweep = (1 to 12).map(i => s"k$i" -> i / 10.0) :+ ("bad" -> -1.0)
    assert(Harness.heaviest(sweep).map(_._1) == (12 to 5 by -1).map(i => s"k$i"))
  }

  test("medianKeys resolves a key list, the bench and soak sets, and a sweep file") {
    assert(Harness.medianKeys("x,y") == Seq("x" -> None, "y" -> None))
    assert(Harness.medianKeys("bench").map(_._1) == graft.SparkEntry.benchQueries)
    assert(Harness.medianKeys("soak").map(_._1) == Harness.soakKeys)
    assert(Harness.soakKeys.forall(graft.SparkEntry.queries.contains))
    val f = Files.createTempFile("sweep", ".json")
    try {
      Files.writeString(f, """{"metric":"total","queries":{"a":0.5,"b":3.0}}""")
      assert(Harness.medianKeys("@" + f) == Seq("b" -> Some(3.0)))
    } finally Files.delete(f)
  }
}
