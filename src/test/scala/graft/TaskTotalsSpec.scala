package graft

import org.apache.spark.sql.functions._

/** The per-query task-metric totals Bench writes to its RUN record. */
class TaskTotalsSpec extends GraftSpec {

  test("a query with an exchange reports shuffle, the next starts " +
      "from zero, and nothing spills at sf0.001") {
    val sc = spark.sparkContext
    val totals = new TaskTotals
    sc.addSparkListener(totals)
    def noop(df: org.apache.spark.sql.DataFrame): TaskTotals.Mb = {
      df.write.format("noop").mode("overwrite").save()
      totals.take(sc)
    }
    try {
      totals.take(sc) // drop events still queued from earlier suites
      val grouped = noop(Tables(spark, sf, "lineitem")
        .groupBy("l_orderkey").agg(sum("l_quantity")))
      assert(grouped.shuffleWrite > 0.0)
      assert(grouped.shuffleRead > 0.0)
      // a narrow scan writes no shuffle: any carry-over from the
      // grouped query would show here
      val scanned = noop(Tables(spark, sf, "lineitem").select("l_orderkey"))
      assert(scanned.shuffleWrite == 0.0)
      assert(scanned.shuffleRead == 0.0)
      Seq(grouped, scanned).foreach { t =>
        assert(t.spillMem == 0.0 && t.spillDisk == 0.0)
      }
    } finally sc.removeSparkListener(totals)
  }
}
