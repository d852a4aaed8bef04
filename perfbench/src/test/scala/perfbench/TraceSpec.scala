package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("TraceSpec")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def traced(body: Tracer => Unit): Map[String, Map[String, Any]] = {
    val t = new Tracer("test")
    spark.sparkContext.addSparkListener(t)
    try body(t)
    finally {
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
    }
    t.report().map(s => s("name").asInstanceOf[String] -> s).toMap
  }

  // an RDD count is exactly one job
  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 100, 2).count()

  test("a call launching a known number of jobs is credited with exactly that many") {
    val r = traced { t =>
      t.span("l", "three") { (1 to 3).foreach(_ => oneJob()) }
      t.span("l", "none") { Thread.sleep(20) }
      t.span("l", "outer") {
        t.span("l", "inner") { oneJob(); oneJob() }
        oneJob()
      }
    }
    assert(r("three")("direct_jobs") == 3 && r("three")("jobs") == 3)
    assert(r("none")("jobs") == 0)
    assert(r("inner")("direct_jobs") == 2)
    assert(r("outer")("direct_jobs") == 1 && r("outer")("jobs") == 3)
  }

  test("a shuffle's stages and tasks are credited to the span") {
    val r = traced { t =>
      t.span("l", "agg") {
        spark.range(0, 1000, 1, 4).selectExpr("id % 3 as k").groupBy("k").count().collect()
      }
    }
    val agg = r("agg")
    assert(agg("stages").asInstanceOf[Int] >= 2)
    assert(agg("tasks").asInstanceOf[Long] >= 5L)
  }

  test("self time excludes child spans; driver-only time excludes job time") {
    val r = traced { t =>
      t.span("l", "parent") {
        Thread.sleep(50)
        t.span("l", "child") { Thread.sleep(50) }
      }
    }
    val p = r("parent")
    val wall = p("wall_ms").asInstanceOf[Long]
    val self = p("self_ms").asInstanceOf[Long]
    assert(self >= 40 && self <= wall - 40, s"self $self of wall $wall")
    assert(p("driver_only_ms") == wall)
  }
}
