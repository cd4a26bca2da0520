package graft.queries

import graft.SparkSuite

class RegistrySpec extends SparkSuite {

  test("query names are unique and oracle keys are a subset") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(Registry.all.count(_.oracle.isDefined) >= 30)
  }

  test("EVERY query is oracle-checked — no silent rows-only entries") {
    // the driver records a weaker rows-only check for queries without
    // oracle SQL; this registry keeps the strong gate universal, so a
    // new entry without an oracle is a regression, not an option
    val missing = Registry.all.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    assert(Registry.all.size >= 104)
  }

  test("select names every unknown query and never drops one silently") {
    val e = intercept[IllegalArgumentException](
      Registry.select("qd11,qd13x,q01_nope"))
    assert(e.getMessage.contains("qd13x") && e.getMessage.contains("q01_nope"))
    assert(!e.getMessage.contains("qd11"))
    intercept[IllegalArgumentException](Registry.select(" , "))
  }

  test("select takes names or ids and returns them in name order") {
    val ids = Registry.all.map(_.name.takeWhile(_ != '_'))
    assert(ids.distinct.size == ids.size)
    val got = Registry.select("qt33,qd11_cluster_corpus,qst14,qd11").map(_.name)
    assert(got == Seq("qd11_cluster_corpus", "qst14_stream_components",
      "qt33_quality_classifier"))
  }

  test("every query runs at sf0.001 and the flagship returns rows") {
    val dir = "/root/testdata/sf0.001"
    Registry.all.foreach { q =>
      val n = q.run(spark, dir).count()
      assert(n >= 0, q.name)
    }
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
