package graft.warehouse

import graft.SparkSuite

class WarehouseSpec extends SparkSuite {
  import spark.implicits._

  private def obs = Seq(
    ("p1", "GDP [X]", "AFG", 2019, "Total", 1.0, null: String),
    ("p1", "GDP [X]", "NAM", 2019, "Total", 2.0, null: String),
    ("p1", "Life expectancy [Y]", "AFG", 2019, "Female", 70.0, null: String))
    .toDF("provider", "indicator_name", "country_code", "year", "dimension",
      "value", "source")

  test("star schema build: stable dim ids, FK-resolved series") {
    val w = StarSchema.build(spark, obs)
    val ind = w.indicator.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(ind == Map("GDP [X]" -> 1L, "Life expectancy [Y]" -> 2L))
    val dim = w.dimension.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dim == Map("Female" -> 1L, "Total" -> 2L))
    assert(w.series.count() == 3)
    // country ids are M49 codes from the packaged table
    val afgSeries = w.series.filter("country_id = 4") // AFG m49
    assert(afgSeries.count() == 2)
  }

  test("observation view denormalises and answers the reference's serving query") {
    val w = StarSchema.build(spark, obs)
    StarSchema.registerViews(spark, w)
    val report = spark.sql(
      """SELECT count(*) AS n, indicator_provider
        |FROM observation GROUP BY indicator_provider""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(report.toSeq == Seq((3L, "p1")))
    val regions = spark.sql(
      "SELECT DISTINCT region FROM observation WHERE country_code = 'NAM'")
      .collect().map(_.getString(0))
    assert(regions.toSeq == Seq("Africa"))
  }

  test("executed staged-merge upsert against embedded Derby (K5/K6)") {
    // Derby ships on the Spark classpath (Hive metastore dependency) —
    // a real database the foreachPartition writer path can run against
    System.setProperty("derby.system.home",
      java.nio.file.Files.createTempDirectory("graft-derby").toString)
    val url = "jdbc:derby:memory:graftwh;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE series (
        |  country_id INT NOT NULL, yr INT NOT NULL, value DOUBLE,
        |  PRIMARY KEY (country_id, yr))""".stripMargin)
    conn.close()
    def readBack(): Map[(Int, Int), Double] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery("SELECT country_id, yr, value FROM series")
        Iterator.continually(rs)
          .takeWhile(_.next())
          .map(r => (r.getInt(1), r.getInt(2)) -> r.getDouble(3))
          .toMap
      } finally c.close()
    }

    // initial load (multi-partition: each partition stages and merges)
    val df1 = Seq((1, 2019, 1.0), (2, 2019, 2.0), (2, 2020, 2.5))
      .toDF("country_id", "yr", "value").repartition(2)
    JdbcUpsert.writeViaStage(df1, url, "series", Seq("country_id", "yr"))
    assert(readBack() == Map((1, 2019) -> 1.0, (2, 2019) -> 2.0, (2, 2020) -> 2.5))

    // K5 upsert: one key updates, one inserts
    val df2 = Seq((1, 2019, 10.0), (3, 2019, 3.0))
      .toDF("country_id", "yr", "value")
    JdbcUpsert.writeViaStage(df2, url, "series", Seq("country_id", "yr"))
    assert(readBack() == Map((1, 2019) -> 10.0, (2, 2019) -> 2.0,
      (2, 2020) -> 2.5, (3, 2019) -> 3.0))

    // K6 insert-ignore: existing key untouched, new key lands
    val df3 = Seq((1, 2019, 99.0), (4, 2019, 4.0))
      .toDF("country_id", "yr", "value")
    JdbcUpsert.writeViaStage(df3, url, "series", Seq("country_id", "yr"),
      insertOnly = true)
    assert(readBack() == Map((1, 2019) -> 10.0, (2, 2019) -> 2.0,
      (2, 2020) -> 2.5, (3, 2019) -> 3.0, (4, 2019) -> 4.0))

    // failure rolls the partition's transaction back (null into NOT
    // NULL pk) and leaves previously committed rows intact
    val dfBad = Seq((null.asInstanceOf[Integer], 2019, 5.0))
      .toDF("country_id", "yr", "value")
    intercept[org.apache.spark.SparkException] {
      JdbcUpsert.writeViaStage(dfBad, url, "series", Seq("country_id", "yr"))
    }
    assert(readBack().size == 5)
  }

  test("CDC apply: latest wins, tombstone removes, re-insert resurrects") {
    import org.apache.spark.sql.functions.col
    val feed = Seq(
      // key 1: insert → update — update wins
      (1L, 10L, "upsert", 1.0), (1L, 11L, "upsert", 2.0),
      // key 2: insert → delete — absent from the snapshot
      (2L, 20L, "upsert", 5.0), (2L, 21L, "delete", 0.0),
      // key 3: insert → delete → re-insert — resurrected with the new row
      (3L, 30L, "upsert", 7.0), (3L, 31L, "delete", 0.0), (3L, 32L, "upsert", 9.0),
      // key 4: same ts tie broken by change id
      (4L, 40L, "upsert", 1.0), (4L, 41L, "upsert", 3.0)
    ).toDF("k", "chg_id", "op", "v")
    val out = Cdc.applyChanges(feed, Seq("k"),
      orderBy = Seq(col("chg_id")), isDelete = col("op") === "delete")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(out == Map(1L -> (11L, 2.0), 3L -> (32L, 9.0), 4L -> (41L, 3.0)))
  }

  test("writeConflictAudit: a_only/b_only/agree/diverge with delete intents") {
    import org.apache.spark.sql.functions._
    // (k, ts, cid, typ, v); isDelete = typ=='del'; values = (typ, v)
    val a = Seq(
      (1L, 1L, 1L, "set", 1.0),                      // a_only
      (3L, 1L, 1L, "set", 5.0),                      // agree (same value)
      (4L, 1L, 1L, "set", 1.0),                      // diverge (values differ)
      (5L, 1L, 1L, "del", 0.0),                      // agree (both delete,
      (6L, 1L, 1L, "del", 0.0),                      //   payloads differ)
      (7L, 1L, 1L, "set", 1.0), (7L, 2L, 2L, "set", 9.0) // latest-wins: 9.0
    ).toDF("k", "ts", "cid", "typ", "v")
    val b = Seq(
      (2L, 1L, 1L, "set", 2.0),                      // b_only
      (3L, 5L, 9L, "set", 5.0),
      (4L, 1L, 1L, "set", 2.0),
      (5L, 1L, 1L, "del", 99.0),
      (6L, 1L, 1L, "set", 1.0),                      // diverge (del vs set)
      (7L, 1L, 1L, "set", 9.0)
    ).toDF("k", "ts", "cid", "typ", "v")
    val got = graft.warehouse.Cdc.writeConflictAudit(
      a, b, Seq("k"), Seq(col("ts"), col("cid")),
      col("typ") === "del", Seq("typ", "v"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "a_only", 2L -> "b_only", 3L -> "agree", 4L -> "diverge",
      5L -> "agree", 6L -> "diverge", 7L -> "agree"))
  }

  test("snapshot diff: added/removed/changed, null-safe, unchanged dropped") {
    val oldV = Seq(
      (1L, "a", Some(1.0)), (2L, "b", Some(2.0)),
      (3L, "c", None), (4L, "d", Some(4.0))
    ).toDF("k", "s", "v")
    val newV = Seq(
      (1L, "a", Some(1.0)),   // unchanged — absent from the diff
      (2L, "B", Some(2.0)),   // changed string
      (3L, "c", Some(3.0)),   // null -> value = changed
      (5L, "e", Some(5.0))    // added; 4 removed
    ).toDF("k", "s", "v")
    val got = Cdc.snapshotDiff(oldV, newV, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
    // null/value placement is not ambiguous: (null, "x") vs ("x", null)
    val a = Seq((1L, None: Option[String], Some("x"))).toDF("k", "c1", "c2")
    val b = Seq((1L, Some("x"), None: Option[String])).toDF("k", "c1", "c2")
    assert(Cdc.snapshotDiff(a, b, Seq("k"))
      .collect().map(_.getString(1)).toSeq == Seq("changed"))
  }

  test("snapshot diff: duplicate key fails loudly instead of fanning out") {
    val oldV = Seq((1L, "a"), (1L, "b")).toDF("k", "s") // 1 duplicated
    val newV = Seq((1L, "a")).toDF("k", "s")
    val e = intercept[Exception] {
      Cdc.snapshotDiff(oldV, newV, Seq("k")).collect()
    }
    assert(e.getMessage.contains("duplicate key in old snapshot"),
      s"got: ${e.getMessage}")
  }

  test("upsert SQL generation (K5/K6)") {
    assert(JdbcUpsert.upsertSql("series",
      Seq("country_id", "indicator_id", "year", "value"),
      Seq("country_id", "indicator_id", "year")) ==
      "INSERT INTO series (country_id, indicator_id, year, value) " +
        "VALUES (?, ?, ?, ?) " +
        "ON CONFLICT (country_id, indicator_id, year) DO UPDATE SET value = EXCLUDED.value")
    assert(JdbcUpsert.insertIgnoreSql("dimension", Seq("name"), Seq("name")) ==
      "INSERT INTO dimension (name) VALUES (?) ON CONFLICT (name) DO NOTHING")
  }

  test("scd2Apply: change/delete/new/unchanged + closed pass-through + idempotence") {
    import spark.implicits._
    // key 1: will change; key 2: unchanged; key 3: deleted; key 4: new.
    // key 1 also carries a CLOSED prior version that must pass through.
    val hist = Seq(
      (1L, "a0", "t0", Some("t1"), false), // closed row, untouched
      (1L, "a1", "t1", None, true),
      (2L, "b", "t0", None, true),
      (3L, "c", "t0", None, true)
    ).toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val snap = Seq((1L, "a2"), (2L, "b"), (4L, "d")).toDF("k", "attr")
    val out = Cdc.scd2Apply(hist, snap, "k", Seq("attr"), "t2")
    val got = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), Option(r.getString(3)), r.getBoolean(4))).toSet
    val expect = Set(
      (1L, "a0", "t0", Some("t1"), false),  // pass-through
      (1L, "a1", "t1", Some("t2"), false),  // closed by change
      (1L, "a2", "t2", None, true),         // successor
      (2L, "b", "t0", None, true),          // unchanged
      (3L, "c", "t0", Some("t2"), false),   // closed by delete
      (4L, "d", "t2", None, true))          // new key
    assert(got === expect)
    // re-applying the snapshot that matches current state changes nothing
    val cur = out.filter($"is_current")
      .select($"k", $"attr")
    val again = Cdc.scd2Apply(out, cur, "k", Seq("attr"), "t3")
    assert(rowsOf(again) === rowsOf(out), "apply is idempotent on a matching snapshot")
  }

  test("partitionRefreshPlan lists only touched partitions with per-status counts") {
    import org.apache.spark.sql.functions._
    // partitions: p1 = {1,2}, p2 = {3}, p3 = {4} untouched
    val oldV = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val newV = Seq((1L, "a2"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("k", "v")
    // key 1 changed (p1), 2 removed (p1), 5 added (p2); 3/4 unchanged
    val part = Map(1L -> "p1", 2L -> "p1", 3L -> "p2", 4L -> "p3", 5L -> "p2")
    val keyed = oldV.unionByName(newV).select($"k")
      .withColumn("part", element_at(typedLit(part), $"k"))
    val diff = Cdc.snapshotDiff(oldV, newV, Seq("k"))
    val got = Cdc.partitionRefreshPlan(diff, keyed, Seq("k"), Seq("part"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map("p1" -> ((0L, 1L, 1L)), "p2" -> ((1L, 0L, 0L))), got.toString)
    // untouched p3 is structurally absent
    assert(!got.contains("p3"))
  }

  test("scd2Apply: duplicate keys on either side fail loudly, not fan out") {
    val hist = Seq((1L, "a", "t0", None: Option[String], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val dupSnap = Seq((1L, "a"), (1L, "b")).toDF("k", "attr")
    val e1 = intercept[Exception] {
      Cdc.scd2Apply(hist, dupSnap, "k", Seq("attr"), "t1").collect()
    }
    assert(e1.getMessage.contains("duplicate key in snapshot"), e1.getMessage)
    val dupHist = Seq(
      (1L, "a", "t0", None: Option[String], true),
      (1L, "b", "t0", None: Option[String], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val snap = Seq((1L, "a")).toDF("k", "attr")
    val e2 = intercept[Exception] {
      Cdc.scd2Apply(dupHist, snap, "k", Seq("attr"), "t1").collect()
    }
    assert(e2.getMessage.contains("duplicate key in current history"), e2.getMessage)
  }
}
