package graft

import org.apache.spark.sql.functions.col

/** The engine configures a session once, in [[GraftSession.builder]]:
  * loading tables, running keys and building layout checkpoints never
  * write a session conf. A fresh `newSession()` holds no conf any earlier
  * engine call could have left behind. */
class SessionConfSpec extends SparkTestBase {

  test("loads, keys and layout checkpoints leave a fresh session's conf untouched") {
    val s = spark.newSession()
    val before = s.conf.getAll
    Seq("agg_groupby_q1", "event_rfm").foreach(k => SparkEntry.queries(k)(s, SF).collect())
    tools.Layout.checkpointBy(s.range(100).toDF("k"), col("k")).count()
    val after = s.conf.getAll
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k)).toSeq.sorted
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
    assert(changed.isEmpty, s"session confs written after start:\n${changed.mkString("\n")}")
  }

  test("a new session inherits the builder's settings") {
    val s = spark.newSession()
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.optimizer.excludedRules")
      .contains("InferFiltersFromGenerate"))
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
