package graft

import org.apache.spark.StageLog

/** The harness's shared stage listener ([[StageLog]]): one measured
  * window over a fixture scan + exchange + aggregate carries the scan's
  * input records and the exchange's shuffle write, and closing a window
  * drains the bus so the next one starts clean. */
class StageLogSpec extends SparkSpec {
  import spark.implicits._

  test("stage log: one window holds its scan and shuffle, the next none of them") {
    val n = 500
    val dir = fixtureDir("docs" -> (0 until n)
      .map(i => Doc(i.toLong, s"text $i", source = s"src${i % 7}")).toDF())
    val log = StageLog.attach(spark.sparkContext)
    try {
      log.take() // opens the window: nothing before it counts
      val out = spark.read.parquet(s"$dir/docs.parquet")
        .repartition(4, $"source").groupBy($"source").count().collect()
      val first = log.take()
      assert(out.map(_.getLong(1)).sum == n)
      assert(first.nonEmpty)
      assert(first.map(_.inRows).sum == n)
      assert(first.map(_.shuffleWriteBytes).sum > 0)
      assert(first.map(_.shuffleReadBytes).sum > 0)

      spark.range(10).repartition(2).count()
      val second = log.take()
      assert(second.nonEmpty)
      assert(second.map(_.id).toSet.intersect(first.map(_.id).toSet).isEmpty)
      assert(log.take().isEmpty)
    } finally spark.sparkContext.removeSparkListener(log)
  }
}
