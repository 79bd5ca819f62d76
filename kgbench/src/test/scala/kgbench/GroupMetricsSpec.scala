package kgbench

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.kgbench.ListenerBusDrain

class GroupMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("task totals are attributed to the span whose job group or time window ran them") {
    val sc = spark.sparkContext
    val listener = new GroupMetrics
    sc.addSparkListener(listener)
    try {
      // a pooled thread created before the span: its jobs carry no group
      val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
      pool.submit(new Runnable { def run(): Unit = () }).get()
      val tr = new Tracer("spec", sc, listener)
      tr("outer") {
        spark.range(1000).collect()                                 // 1 job, no shuffle
        tr("inner") {
          spark.range(0, 10000, 1, 4).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
            .count().collect()                                      // shuffle, in inner
          spark.range(10).collect()
        }
        spark.range(100).collect()                                  // back in outer
        pool.submit(new Runnable {                                  // outer, by time window
          def run(): Unit = spark.range(50).collect()
        }).get()
      }
      pool.shutdown()
      spark.range(5).collect()                                      // no group
      ListenerBusDrain(sc)

      val outer = listener(tr.group("outer"))
      val inner = listener(tr.group("inner"))
      assert(outer.jobs == 3, outer)
      assert(inner.jobs >= 2, inner)
      assert(outer.tasks > 0 && inner.tasks > 0)
      assert(inner.shuffleWriteBytes > 0, inner)
      assert(outer.shuffleWriteBytes == 0, outer)
      assert(listener("no-such-group") == GroupTotals())
      // every task charged to a span ran inside the outer window
      assert(listener.windowRunNs(tr.group("outer")) >= outer.runNs + inner.runNs)
      assert(listener.windowRunNs(tr.group("inner")) >= inner.runNs)
      assert(sc.getLocalProperty(GroupMetrics.GroupKey) == null, "job group left set after the span")
      assert(tr.spans.map(s => (s.name, s.parent)) == Seq(("outer", None), ("inner", Some(0))))
    } finally sc.removeSparkListener(listener)
  }
}
