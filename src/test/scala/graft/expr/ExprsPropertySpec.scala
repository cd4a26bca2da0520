package graft.expr

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.operators.Dedup
import graft.transform.Transformers

/** Property tests for the invariants the engine's determinism story
  * rests on (SURVEY §5c). ScalaCheck generators driven directly with a
  * fixed seed (no scalatest bridge in the offline cache).
  */
class ExprsPropertySpec extends SparkSuite {
  import spark.implicits._

  private def forAll[A](g: Gen[A], n: Int = 30)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }
  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val phrase = Gen.chooseNum(1, 6).flatMap(n =>
    Gen.listOfN(n, word).map(_.mkString(" ")))

  test("snakeCaseName: idempotent, no whitespace, lowercase") {
    forAll(Gen.listOf(Gen.oneOf(word, Gen.const(" "), Gen.const("\t")))
      .map(_.mkString)) { s =>
      whenever(s.trim.nonEmpty) {
        val once = Exprs.snakeCaseName(s)
        assert(Exprs.snakeCaseName(once) == once)
        assert(!once.exists(_.isWhitespace))
        assert(once == once.toLowerCase)
      }
    }
  }

  test("column toSnakeCase agrees with driver-side snakeCaseName") {
    forAll(Gen.listOfN(20, phrase)) { ss =>
      whenever(ss.nonEmpty) {
        val got = ss.toDF("s").select(Exprs.toSnakeCase($"s"))
          .collect().map(_.getString(0)).toSeq
        assert(got == ss.map(Exprs.snakeCaseName(_)))
      }
    }
  }

  test("exactSum: invariant under permutation and partitioning") {
    forAll(Gen.listOfN(200, Gen.chooseNum(-1e6, 1e6).map(v =>
      math.round(v * 100) / 100.0))) { vs =>
      whenever(vs.nonEmpty) {
        val a = vs.toDF("v").repartition(1)
          .agg(Exprs.exactSum($"v")).collect()(0).getDouble(0)
        val b = scala.util.Random.shuffle(vs).toDF("v").repartition(13)
          .agg(Exprs.exactSum($"v")).collect()(0).getDouble(0)
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b))
      }
    }
  }

  test("exactSumBounded: bit-equal to exactSum inside the 2^53 window, " +
    "permutation/partitioning-invariant") {
    // 64 terms × |v| ≤ 1e7 keeps |Σ| ≤ 6.4e8, safely inside the 2^53
    // window even at the generator's all-max edge case
    forAll(Gen.listOfN(64, Gen.chooseNum(-1e7, 1e7))) { vs =>
      whenever(vs.nonEmpty) {
        val a = vs.toDF("v").repartition(1)
          .agg(Exprs.exactSum($"v")).collect()(0).getDouble(0)
        val b = scala.util.Random.shuffle(vs).toDF("v").repartition(7)
          .agg(Exprs.exactSumBounded($"v")).collect()(0).getDouble(0)
        assert(java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b))
      }
    }
  }

  test("exactSumBounded: nulls and non-finite terms fold like exactSum; " +
    "window violations raise instead of drifting") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val sch = StructType(Seq(StructField("v", DoubleType, nullable = true)))
    def df(vs: Seq[java.lang.Double]) = spark.createDataFrame(
      java.util.Arrays.asList(vs.map(Row(_)): _*), sch)
    // NaN/Inf → null per-term Cast, dropped by both folds
    val mixed = Seq[java.lang.Double](1.25, Double.NaN,
      Double.PositiveInfinity, 2.5, null)
    val ea = df(mixed).agg(Exprs.exactSum($"v")).collect()(0).getDouble(0)
    val eb = df(mixed).agg(Exprs.exactSumBounded($"v")).collect()(0).getDouble(0)
    assert(java.lang.Double.doubleToLongBits(ea) ==
      java.lang.Double.doubleToLongBits(eb))
    // all-null group → null under both
    val an = df(Seq[java.lang.Double](null, null))
    assert(an.agg(Exprs.exactSum($"v")).collect()(0).isNullAt(0))
    assert(an.agg(Exprs.exactSumBounded($"v")).collect()(0).isNullAt(0))
    // |Σ|·10⁶ ≥ 2⁵³ raises loudly (exactSum would still answer; the
    // bounded fold must never silently diverge in the last ulp)
    val big = df(Seq.fill(3)(java.lang.Double.valueOf(9.0e9)))
    val err = intercept[Exception] {
      big.agg(Exprs.exactSumBounded($"v")).collect()
    }
    assert(err.getMessage.contains("2^53") ||
      String.valueOf(err.getCause).contains("2^53"))
  }

  test("jaccard bounds and identity") {
    forAll(Gen.listOfN(2, Gen.nonEmptyListOf(word))) { case List(xs, ys) =>
      val df = Seq((xs, ys)).toDF("a", "b")
        .select(Dedup.jaccard(array_distinct($"a"), array_distinct($"b")).as("j"),
          Dedup.jaccard(array_distinct($"a"), array_distinct($"a")).as("self"))
      val r = df.collect()(0)
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(1) == 1.0)
    }
  }

  test("keepFirst: output unique on keys, picks the minimum order value") {
    val rowGen = for {
      k <- Gen.chooseNum(0, 5)
      o <- Gen.chooseNum(0, 100)
      v <- Gen.chooseNum(0, 1000)
    } yield (k, o, v)
    forAll(Gen.listOfN(60, rowGen)) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("k", "o", "v")
        val out = Transformers.keepFirst(df, Seq("k"), Seq("o", "v"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
        assert(out.map(_._1).distinct.length == out.length)
        val wantFirst = rows.groupBy(_._1).view
          .mapValues(_.minBy(t => (t._2, t._3))).toMap
        out.foreach { case t @ (k, _, _) => assert(wantFirst(k) == t) }
      }
    }
  }

  test("foldDimensions: never null, 'Total' iff nothing survives") {
    val entry = for {
      k <- word
      v <- Gen.option(Gen.oneOf(word, Gen.const("Total"), Gen.const("total")))
    } yield (k, v)
    forAll(Gen.listOfN(4, entry)) { entries =>
      val distinctKeys = entries.toMap.toSeq // unique keys
      val dims = distinctKeys.map { case (k, v) =>
        Exprs.Dim(lit(k), v.map(lit(_)).getOrElse(lit(null)))
      }
      whenever(distinctKeys.nonEmpty) {
        val got = Seq(1).toDF("i")
          .select(Exprs.foldDimensions(dims)).collect()(0).getString(0)
        assert(got != null)
        val surviving = distinctKeys.filter(_._2.isDefined)
        if (surviving.isEmpty) assert(got == "Total")
        else assert(got.split("; ").length == surviving.length)
      }
    }
  }
}
