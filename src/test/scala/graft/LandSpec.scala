package graft

import scala.concurrent.Future

import org.apache.spark.sql.execution.LogicalRDD

class LandSpec extends SparkSpec {

  test("concurrently awaits a landing that a callback starts") {
    val scope = new Land.CacheScope(spark)
    try {
      val landed = Land.concurrently(spark) { jobs =>
        import jobs.ec
        // the second landing starts in the first one's callback, after the
        // start function has returned
        jobs.land(Future(spark.range(5).toDF())).flatMap { _ =>
          Thread.sleep(200)
          jobs.land(Future(spark.range(10).toDF()))
        }
      }
      val df = landed.value.get.get
      assert(df.queryExecution.logical.isInstanceOf[LogicalRDD])
      assert(df.count() === 10)
    } finally scope.releaseAll()
  }
}
