package graft.storage

import graft.SparkSuite

class CompactionSpec extends SparkSuite {
  import spark.implicits._

  test("compactionPlan bins by exclusive prefix sum, contiguous per group") {
    val files = Seq(
      // group "a": sizes 40,40,40 with target 100 -> prefix 0,40,80 -> bin 0
      ("a", 1L, 40L), ("a", 2L, 40L), ("a", 3L, 40L),
      // then 30 at prefix 120 -> bin 1
      ("a", 4L, 30L),
      // oversized file: prefix 150 -> bin 1; next starts at 450 -> bin 4
      ("a", 5L, 300L), ("a", 6L, 10L),
      // group "b" is independent
      ("b", 1L, 120L), ("b", 2L, 5L)
    ).toDF("grp", "file_id", "bytes")
    val got = Compaction.compactionPlan(files, "grp", "file_id", "bytes", 100L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got(("a", 1L)) == 0L && got(("a", 2L)) == 0L && got(("a", 3L)) == 0L)
    assert(got(("a", 4L)) == 1L)
    assert(got(("a", 5L)) == 1L)
    assert(got(("a", 6L)) == 4L)
    assert(got(("b", 1L)) == 0L && got(("b", 2L)) == 1L)
    // bins are contiguous runs in id order: non-decreasing bin along ids
    val aBins = (1L to 6L).map(i => got(("a", i)))
    assert(aBins == aBins.sorted)
  }

  test("compactionPlan is partitioning-invariant and validates inputs") {
    val files = (1L to 500L).map(i => ("p" + (i % 7), i, (i * 37) % 900))
      .toDF("grp", "file_id", "bytes")
    val one = Compaction.compactionPlan(files, "grp", "file_id", "bytes", 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    val re = Compaction.compactionPlan(files.repartition(11), "grp", "file_id", "bytes", 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(one == re)
    intercept[IllegalArgumentException] {
      Compaction.compactionPlan(files, "grp", "file_id", "bytes", 0L)
    }
    // negative size fails loudly at execution
    val neg = Seq(("a", 1L, -5L)).toDF("grp", "file_id", "bytes")
    val ex = intercept[Exception] {
      Compaction.compactionPlan(neg, "grp", "file_id", "bytes", 100L).collect()
    }
    assert(ex.getMessage.contains("negative file size") ||
      String.valueOf(ex.getCause).contains("negative file size"))
  }

  test("compactionSummary aggregates files and bytes per bin") {
    val files = Seq(("a", 1L, 60L), ("a", 2L, 60L), ("a", 3L, 60L))
      .toDF("grp", "file_id", "bytes")
    val plan = Compaction.compactionPlan(files, "grp", "file_id", "bytes", 100L)
    val sum0 = Compaction.compactionSummary(plan)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // prefix 0,60,120 -> bins 0,0,1
    assert(sum0(("a", 0L)) == (2L, 120L))
    assert(sum0(("a", 1L)) == (1L, 60L))
  }
}
