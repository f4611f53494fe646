package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.kmeans.{Centroid, Lloyd}

/** The reference's fault-tolerance story — simulated worker failure with
  * synchronous restart (/root/reference/mapper.py:52-55, master.py:161-166)
  * — maps to Spark task re-attempts (`spark.task.maxFailures`). A UDF
  * throws on every task's FIRST attempt; results must equal the no-fault
  * run (SURVEY.md §5.4).
  */
class FaultToleranceSpec extends AnyFunSuite {

  test("task retry recovers from first-attempt failures with identical results") {
    val spark = TestSpark.spark // master local[4, 3] -> maxFailures=3
    import spark.implicits._
    val failOnce = udf { (x: Long) =>
      if (TaskContext.get().attemptNumber() == 0)
        throw new RuntimeException("simulated worker failure (p=1.0 on attempt 0)")
      x * 2
    }
    val df = (1L to 1000L).toDF("x").repartition(4)
    val got = df.select(sum(failOnce(col("x")))).head().getLong(0)
    assert(got == (1L to 1000L).map(_ * 2).sum)
  }

  /** The sf0.001 points on four splits, and the same points with every
    * task's attempt 0 throwing from a `failOnce` UDF on the coordinates.
    */
  private def faultyPoints(spark: SparkSession) = {
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001).repartition(4)
    val failOnce = udf { (v: Seq[Double]) =>
      if (TaskContext.get().attemptNumber() == 0) {
        FaultToleranceSpec.injected.incrementAndGet()
        throw new RuntimeException("simulated worker failure (p=1.0 on attempt 0)")
      }
      v
    }
    (pts, pts.withColumn("coordinates", failOnce(col("coordinates"))))
  }

  private def bits(cs: Seq[Centroid]) =
    cs.map(c => c.cid -> c.coordinates.map(java.lang.Double.doubleToRawLongBits).toSeq)

  test("a Lloyd step whose every task fails on attempt 0 is bit-identical to the no-fault step") {
    val spark = TestSpark.spark
    // four splits, so the driver merges four retried partials
    val (pts, faulty) = faultyPoints(spark)
    val cents = Lloyd.initCentroids(pts, 5)
    // uncached: every retried task re-reads and re-assigns its split, and
    // must fold it from empty buffers
    val injected0 = FaultToleranceSpec.injected.get()
    val got = Lloyd.step(faulty, cents)
    assert(FaultToleranceSpec.injected.get() - injected0 == 4)
    assert(bits(got) == bits(Lloyd.step(pts, cents)))
  }

  test("a Lloyd loop whose cache fill fails on attempt 0 is bit-identical and leaves nothing persisted") {
    val spark = TestSpark.spark
    val (pts, faulty) = faultyPoints(spark)
    val (exp, expIters) = Lloyd.run(pts, k = 5, grid = Some(7))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val injected0 = FaultToleranceSpec.injected.get()
    // the init job packs each split once into the cache; every iteration reads the cache
    val (got, gotIters) = Lloyd.run(faulty, k = 5, grid = Some(7))
    assert(FaultToleranceSpec.injected.get() - injected0 == 4)
    assert(gotIters == expIters)
    assert(bits(got) == bits(exp))
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
  }
}

object FaultToleranceSpec {
  // tasks run in the test JVM (local mode), so the UDF can count its throws here
  val injected = new java.util.concurrent.atomic.AtomicInteger()
}
