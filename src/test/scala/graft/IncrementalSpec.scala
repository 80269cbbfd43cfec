package graft

import java.time.{LocalDate, LocalDateTime}
import org.scalatest.funsuite.AnyFunSuite
import graft.incr.Incremental
import graft.meta.{EndpointConfig, LoadMode, TableConfig}
import graft.sources.JdbcSource

class IncrementalSpec extends AnyFunSuite {

  private val now = LocalDateTime.of(2026, 8, 12, 10, 30)

  test("ordinal anchor: 1900-01-01 <-> 693596 (python toordinal)") {
    assert(Incremental.toOrdinal(LocalDate.of(1900, 1, 1)) == 693596L)
    assert(Incremental.fromOrdinal(693596L) == LocalDate.of(1900, 1, 1))
    // round trip across the regex-gated range
    Seq("1990-06-15", "2024-02-29", "0700-01-01").foreach { d =>
      val ld = LocalDate.parse(d)
      assert(Incremental.fromOrdinal(Incremental.toOrdinal(ld)) == ld)
    }
  }

  test("limitsForFilter aje_period: plain yyyyMM window") {
    assert(Incremental.limitsForFilter(-2, "aje_period", now) ==
      (("202606", "202608")))
  }

  test("limitsForFilter aje_date: month-snapped ordinals") {
    val (lo, hi) = Incremental.limitsForFilter(-2, "aje_date", now)
    assert(lo == Incremental.toOrdinal(LocalDate.of(2026, 6, 1)).toString)
    assert(hi == Incremental.toOrdinal(LocalDate.of(2026, 8, 31)).toString)
  }

  test("watermark clamp: future values clamp to yesterday 23:59:59") {
    val future = LocalDateTime.of(2099, 1, 1, 0, 0)
    assert(Incremental.clampWatermark(future, now) ==
      LocalDateTime.of(2026, 8, 11, 23, 59, 59))
    val past = LocalDateTime.of(2020, 1, 1, 0, 0)
    assert(Incremental.clampWatermark(past, now) == past)
  }

  test("dialect literal rendering (P5)") {
    assert(Incremental.renderBound("2023-05-01 00:00:00", "smalldatetime") ==
      "CONVERT(smalldatetime, '2023-05-01 00:00:00', 120)")
    assert(Incremental.renderBound("2023-05-01 00:00:00.123", "DATE") ==
      "TO_DATE('2023-05-01 00:00:00', 'YYYY-MM-DD HH24:MI:SS')")
    assert(Incremental.renderBound("2023-05-01 00:00:00", "BIGINT") ==
      "1682899200") // epoch seconds, UTC
  }

  test("two-column predicate SQL is OR'd (P3)") {
    val sql = Incremental.windowPredicateSql("f1,f2", "'a'", "'b'")
    assert(sql ==
      "(f1 IS NOT NULL and f1 BETWEEN 'a' AND 'b') OR " +
        "(f2 IS NOT NULL and f2 BETWEEN 'a' AND 'b')")
  }

  test("full query generation with id alias, join, and templated filter") {
    val q = Incremental.fullQuery("S", "T", "a,b", idColumn = "k",
      joinExpr = "join X on T.a=X.a", filterExp = "a > 0",
      filterColumn = "p between {0} and {1}", filterOperator = "between",
      limits = Some(("202401", "202403")))
    assert(q == "select k as id,a,b from S.T join X on T.a=X.a " +
      "where a > 0 AND p between 202401 and 202403")
    // placeholders when only filterExp given
    val q2 = Incremental.fullQuery("S", "T", "a", filterExp = "a > 0")
    assert(q2 == "select a from S.T where a > 0 AND 0=0")
  }

  test("fullQuery: non-between operators take the 0=0 route (get_query)") {
    // load_with_query.py:315-317 templates FILTER_COLUMN ONLY for operator
    // 'between'; 'lte' and 'incremental-full' configs fall through to '0=0'
    // even when a filter column is present
    for (op <- Seq("lte", "incremental-full")) {
      val q = Incremental.fullQuery("S", "T", "a,b",
        filterExp = "a > 0", filterColumn = "p between {0} and {1}",
        filterOperator = op, limits = Some(("202401", "202403")))
      assert(q == "select a,b from S.T where a > 0 AND 0=0", op)
    }
    // ... and with no filterExp either, both placeholders degrade to 0=0,
    // matching the reference's generated "where 0=0 AND 0=0" shape
    val bare = Incremental.fullQuery("S", "T", "a",
      filterColumn = "p between {0} and {1}", filterOperator = "lte",
      limits = Some(("202401", "202403")))
    assert(bare == "select a from S.T where 0=0 AND 0=0")
  }

  test("replication filter: between/incremental-full window, lte full copy") {
    // CreateReplicationTaskForTable.py:96-112
    assert(Incremental.replicationFilterSql("between", "upd_ts",
      "2024-01-01 00:00:00", "2024-02-01 00:00:00") ==
      Some("upd_ts BETWEEN '2024-01-01 00:00:00' AND '2024-02-01 00:00:00'"))
    assert(Incremental.replicationFilterSql("incremental-full", "upd_ts",
      "2024-01-01 00:00:00", "2024-02-01 00:00:00") ==
      Some("upd_ts BETWEEN '2024-01-01 00:00:00' AND '2024-02-01 00:00:00'"))
    // BIGINT FILTER_TYPE converts the bounds to epoch seconds (:97-101)
    assert(Incremental.replicationFilterSql("incremental-full", "upd_epoch",
      "2023-05-01 00:00:00", "2023-05-02 00:00:00", filterType = "BIGINT") ==
      Some("upd_epoch BETWEEN 1682899200 AND 1682985600"))
    // lte (and anything else) => full-table replication, no filter
    assert(Incremental.replicationFilterSql("lte", "upd_ts",
      "2024-01-01 00:00:00", "2024-02-01 00:00:00").isEmpty)
    assert(Incremental.replicationFilterSql("", "upd_ts", "a", "b").isEmpty)
  }

  test("range split covers [start,end] without gaps") {
    val s = LocalDateTime.of(2024, 1, 1, 0, 0)
    val e = LocalDateTime.of(2024, 1, 2, 0, 0)
    val parts = Incremental.splitRange(s, e, 6)
    assert(parts.length == 6 && parts.head._1 == s && parts.last._2 == e)
    parts.sliding(2).foreach { case Seq(a, b) => assert(a._2 == b._1) }
  }

  test("watermark store: advance rolls START=old END") {
    val f = java.nio.file.Files.createTempFile("wm", ".properties").toString
    val store = new Incremental.WatermarkStore(f)
    store.put("t1", "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    store.advance("t1", "2024-03-01 00:00:00")
    assert(store.get("t1").contains(
      ("2024-02-01 00:00:00", "2024-03-01 00:00:00")))
  }

  test("LoadMode routing follows the reference's branch structure") {
    val base = TableConfig("T", "E", "s", "t", "st")
    assert(LoadMode.of(base.copy(loadType = "full")) == LoadMode.FullOverwrite)
    assert(LoadMode.of(base.copy(loadType = "incremental")) ==
      LoadMode.IncrementalMerge)
    assert(LoadMode.of(base.copy(loadType = "between-date",
      sourceTableType = "t", delayIncrementalIni = -3)) ==
      LoadMode.TransactionalWindowMerge(-3))
  }

  test("extraction routing + replication batching (I4)") {
    import graft.meta.TableConfig
    def t(name: String, cols: String = "", join: String = "") = TableConfig(
      targetTableName = name, endpoint = "E", sourceSchema = "s",
      sourceTable = name, stageTableName = name, columns = cols,
      joinExpr = join)
    val bare = (1 to 5).map(i => t(s"b$i"))
    val custom = Seq(t("c1", cols = "a,b"), t("c2", join = "join x on 1=1"))
    assert(custom.forall(_.needsCustomQuery) && !bare.exists(_.needsCustomQuery))
    val (batches, needQuery) =
      TableConfig.batchForReplication(bare ++ custom, perTask = 2)
    assert(needQuery.map(_.targetTableName) == Seq("c1", "c2"))
    assert(batches.map(_.size) == Seq(2, 2, 1))
    assert(batches.flatten.map(_.targetTableName) == bare.map(_.targetTableName))
  }

  test("JDBC option maps per dialect (S1/S2)") {
    val ora = EndpointConfig("E", "oracle", "h", 1521, "DB", "u", "sec")
    val o = JdbcSource.options(ora, "select 1", "pw")
    assert(o("url") == "jdbc:oracle:thin:@h:1521/DB")
    assert(o("driver") == "oracle.jdbc.driver.OracleDriver")
    assert(o.contains("sessionInitStatement"))
    assert(o("numPartitions") == "100" && o("fetchsize") == "1000")
    val my = JdbcSource.options(
      EndpointConfig("E", "mysql", "h", 3306, "DB", "u", "s"), "q", "pw")
    assert(my("url") == "jdbc:mysql://h:3306/DB")
    assert(!my.contains("sessionInitStatement"))
  }

  test("JDBC incremental option map: the endpoint's options, bounded on the watermark (S2/S3)") {
    val t = TableConfig("T", "E", "SCH", "ORDERS", "stage", loadType = "incremental",
      filterColumn = "UPDATED_AT, CREATED_AT", startValue = "2024-01-01 00:00:00",
      endValue = "2024-01-31 23:59:59", idColumn = "ORDER_ID", columns = "AMOUNT")
    val ora = JdbcSource.incrementalOptions(
      EndpointConfig("E", "oracle", "h", 1521, "DB", "u", "sec"), t, "pw", 8)
    assert(ora("url") == "jdbc:oracle:thin:@h:1521/DB" && ora("user") == "u")
    assert(ora.contains("sessionInitStatement"))
    assert(ora("oracle.jdbc.mapDateToTimestamp") == "true")
    assert(!ora.contains("query"))
    assert(ora("dbtable") == s"(${Incremental.fullQuery("SCH", "ORDERS", "AMOUNT", "ORDER_ID")}) src")
    assert(ora("partitionColumn") == "UPDATED_AT" && ora("numPartitions") == "8")
    assert(ora("lowerBound") == t.startValue && ora("upperBound") == t.endValue)
    val my = JdbcSource.incrementalOptions(
      EndpointConfig("E", "mysql", "h", 3306, "DB", "u", "s"), t, "pw", 8)
    assert(!my.contains("sessionInitStatement") && !my.contains("oracle.jdbc.mapDateToTimestamp"))
    assert(my("lowerBound") == t.startValue && my("upperBound") == t.endValue)
  }

  test("changedPartitions: add/remove/change/unchanged, order-independent") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val base = Seq(
      ("p1", 1L, "a"), ("p1", 2L, "b"),   // unchanged
      ("p2", 3L, "c"), ("p2", 4L, "d"),   // value edit -> changed
      ("p3", 5L, "e"),                    // row added -> changed
      ("p4", 6L, "f")                     // partition dropped -> removed
    ).toDF("p", "k", "v")
    val current = Seq(
      ("p1", 2L, "b"), ("p1", 1L, "a"),   // same content, ROWS REORDERED
      ("p2", 3L, "c"), ("p2", 4L, "D"),
      ("p3", 5L, "e"), ("p3", 7L, "g"),
      ("p5", 8L, "h")                     // new partition -> added
    ).toDF("p", "k", "v")
    val got = graft.incr.Incremental.changedPartitions(base, current, "p")
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      "p1" -> ((2L, 2L, "unchanged")),
      "p2" -> ((2L, 2L, "changed")),
      "p3" -> ((1L, 2L, "changed")),
      "p4" -> ((1L, 0L, "removed")),
      "p5" -> ((0L, 1L, "added"))))
    // null rendering: (a, NULL) vs (NULL, a) must NOT collide
    val b2 = Seq(("p", Option("a"), Option.empty[String])).toDF("p", "x", "y")
    val c2 = Seq(("p", Option.empty[String], Option("a"))).toDF("p", "x", "y")
    val st = graft.incr.Incremental.changedPartitions(b2, c2, "p")
      .select("status").as[String].collect()
    assert(st.toSeq == Seq("changed"))
  }

  test("netChanges: last writer wins, tombstones delete, inserts survive") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val log = Seq(
      (1L, 1L, "I", "a"), (1L, 2L, "U", "a2"),             // latest U wins
      (2L, 1L, "I", "b"), (2L, 2L, "U", "b2"), (2L, 3L, "D", null),
      (3L, 1L, "I", "c"),                                  // plain insert
      (4L, 1L, "D", null), (4L, 2L, "I", "d")              // re-insert after D
    ).toDF("id", "seq", "op", "v")
    val got = Incremental.netChanges(log, Seq("id"), "seq", "op")
      .select("id", "seq", "op", "v").as[(Long, Long, String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, "U", "a2"), (3L, 1L, "I", "c"), (4L, 2L, "I", "d")))
  }
}
