package graft

import org.apache.spark.sql.SparkSession

/** The `spark.sql.extensions` door: a session built with ONLY the config
  * string (the spark-submit deployment path — not the factory) must expose
  * the full SQL surface, with results identical to the shared session. */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions injection registers the SQL surface") {
    val shared = spark // force the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // same JVM SparkContext, fresh session state built THROUGH the
      // extensions object — the machinery `spark.sql.extensions=
      // graft.GraftExtensions` invokes at cluster-session build (the
      // config form itself is a STATIC conf, unset-table once a context
      // exists, so a shared-JVM suite must inject programmatically)
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne shared)
      // a native scalar, a native aggregate, and a DSL function — one of
      // each registration family, value-checked
      val row = s2.sql("""SELECT
          graft_md5_prefix60('abc') AS h,
          fn_transform_concatenate('a', 'b') AS c,
          graft_bit_length(CAST(1023 AS BIGINT)) AS bl""").collect().head
      assert(row.getLong(2) == 10L)
      val expected = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest("abc".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16)
      assert(row.getLong(0) == expected)
      assert(row.getString(1) == "a|b")
      val agg = s2.sql("""SELECT graft_kmv_distinct(
          graft_md5_prefix60(CAST(id AS STRING)), 16) AS est
        FROM range(10)""").collect().head
      assert(agg.getDouble(0) == 10.0) // < k values: exact count
      // misra-gries through SQL: 4 distinct < k=8 -> exact counts
      val mg = s2.sql("""SELECT graft_misra_gries(
          CAST(id % 4 AS STRING), 8) AS mg FROM range(12)""").collect().head
      val entries = mg.getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(entries == Map("0" -> 3L, "1" -> 3L, "2" -> 3L, "3" -> 3L))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
