package perfbench

import java.nio.file.Files

/** The harness's own checks, run by `perfbench/selftest.py`: the
  * generators are deterministic for a seed and vary across seeds, the
  * fan-in output check catches a planted wrong row, and the closure the
  * curation check compares against is right. Needs no Spark session: the
  * fan-in generator runs without staging any file. */
object SelfTest {
  private var failures = 0

  private def check(ok: Boolean, what: String): Unit = {
    println((if (ok) "ok   " else "FAIL ") + what)
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("perfbench-selftest")
    def gen(seed: Long) = Gen.etl(null, seed, dir.resolve(s"s$seed"), stage = false)
    val a = gen(7)
    val b = gen(7)
    val c = gen(8)
    check(a.fingerprint == b.fingerprint && a.expected == b.expected,
      "generator: one seed gives identical inputs and expected rows")
    check(a.fingerprint != c.fingerprint && a.expected != c.expected,
      "generator: another seed gives other inputs")
    check(a.expected.size == c.expected.size || math.abs(a.expected.size - c.expected.size) <
      a.expected.size / 20, "generator: row volume stays within 5% across seeds")
    val providers = a.expected.map(_.provider).distinct
    check(providers.size == 13, s"generator: all 13 providers have expected rows (${providers.size})")
    check(a.expected.map(o => (o.indicator, o.country, o.year, o.dimension)).distinct.size ==
      a.expected.size, "generator: expected rows are unique on the observation key")
    check(a.expected.forall(o => o.year >= Gen.YearMin && o.year <= Gen.YearMax ||
      o.provider == "tpch_shipments"), "generator: expected rows stay inside the year window")

    def corpus(seed: Long) = Gen.corpus(seed, dir.resolve(s"c$seed"))
    val (ca, cb, cc) = (corpus(7), corpus(7), corpus(8))
    check(ca.fingerprint == cb.fingerprint && ca.docs == cb.docs,
      "corpus generator: one seed gives an identical corpus")
    check(ca.fingerprint != cc.fingerprint, "corpus generator: another seed gives another corpus")
    check(ca.batches == 2 && ca.docs.exists(_.getInt(5) == 1),
      "corpus generator: a held-out share streamed as a file and its re-delivery")

    val rows = a.expected.filter(_.provider == "who_gho_api")
    val keys = rows.map(_.key)
    check(Main.mismatch("who_gho_api", rows, keys.reverse).isEmpty,
      "check: the exact rows in another order pass")
    val wrongValue = rows.head.copy(value = rows.head.value + 0.001).key +: keys.tail
    check(Main.mismatch("who_gho_api", rows, wrongValue).isDefined,
      "check: a planted wrong value is caught")
    check(Main.mismatch("who_gho_api", rows, keys.tail).isDefined,
      "check: a missing row is caught")
    check(Main.mismatch("who_gho_api", rows, keys :+ keys.head).isDefined,
      "check: a duplicated row is caught")
    val wrongDim = rows.head.copy(dimension = "Total").key +: keys.tail
    check(Main.mismatch("who_gho_api", rows, wrongDim).isDefined,
      "check: a wrong dimension is caught")
    check(Main.components(Seq(1L, 2L, 3L, 4L, 5L), Seq((4L, 2L), (5L, 4L))) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 2L),
      "closure: union-find labels each component by its smallest id")
    if (failures > 0) {
      println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
  }
}
