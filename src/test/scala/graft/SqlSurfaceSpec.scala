package graft

import graft.queries.Relational

/** The SQL-first entry point: `spark.sql` over registered views must
  * plan and answer identically to the DataFrame corpus — Catalyst
  * compiles both to the same logical algebra, so the engine is equally
  * usable from either surface.
  */
class SqlSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("spark.sql over registered views equals the DataFrame corpus query") {
    graft.core.Tables(spark, dir).registerViews()
    val sql = spark.sql(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    val df = Relational.q3JoinBroadcast(spark, dir)
    assert(sql.collect().toSeq == df.collect().toSeq)
  }

  test("SQL windowing and grouping sets work over the views") {
    graft.core.Tables(spark, dir).registerViews()
    val topPerNation = spark.sql(
      """SELECT c_nationkey, c_custkey FROM (
        |  SELECT c_nationkey, c_custkey,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer) WHERE rnk = 1 ORDER BY c_nationkey""".stripMargin)
    val viaDf = Relational.q6WindowRank(spark, dir)
      .filter(org.apache.spark.sql.functions.col("rnk") === 1)
      .select("c_nationkey", "c_custkey")
    assert(topPerNation.collect().toSeq == viaDf.collect().toSeq)
  }

  test("text functions compose inside SQL through the registered views") {
    graft.core.Tables(spark, dir).registerViews()
    val n = spark.sql(
      "SELECT count(*) FROM documents WHERE size(split(trim(text), '\\\\s+')) > 10")
      .head().getLong(0)
    assert(n > 0)
  }

  test("driver contract: SparkEntry.entry returns rows; every query key has a runnable fn") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracleSql key must name a registered query (a dangling
    // oracle would silently skip its gate)
    val qs = SparkEntry.queries.keySet
    val dangling = SparkEntry.oracleSql.keySet.diff(qs)
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
    // Bench's `qn` array quotes gate names without JSON escaping, which
    // is safe only while every name is a plain identifier
    val unsafe = (qs ++ SparkEntry.oracleSql.keySet).filterNot(_.matches("[a-z0-9_]+"))
    assert(unsafe.isEmpty, s"gate names outside [a-z0-9_]+: $unsafe")
  }
}
