package graft.tools

import org.apache.spark.sql.SparkSession

import graft.kmeans.{Centroid, Lloyd}

/** Stress-scale evidence for the flagship dataflow: one full Lloyd run
  * (K = 5, 10 fixed iterations, no early stop) over the synthetic-sf1
  * embeddings at /tmp/stress_sf1, printing per-iteration wall time. Each
  * iteration is the production shape, [[Lloyd.step]]: one Spark job whose
  * tasks pack their points into dense blocks, assign them to the K
  * centroids (zero shuffle) and fold them into K (sum, count) buffers,
  * merged on the driver. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/stress_sf1 sbt "runMain graft.tools.StressLloyd"
  */
object StressLloyd {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/stress_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config(graft.core.Tables.NanosAsLongConf._1, graft.core.Tables.NanosAsLongConf._2)
      .config("spark.sql.warehouse.dir", "target/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pts = graft.core.Tables.points(spark, sfDir)
      .select("vec_id", "coordinates").cache()
    val n = pts.count() // materialize the cache before timing
    var cents: Seq[Centroid] = Lloyd.initCentroids(pts, 5)
    val times = (1 to 10).map { it =>
      val t0 = System.nanoTime()
      val next = Lloyd.step(pts, cents)
      val dt = (System.nanoTime() - t0) / 1e9
      cents = next
      println(f"iter $it%2d: $dt%.3f s (${cents.size} centroids)")
      dt
    }
    println(f"""{"tool":"stress_lloyd","sf_dir":"$sfDir","n_points":$n,"k":5,""" +
      f""""iters":10,"total_sec":${times.sum}%.3f,"mean_iter_sec":${times.sum / 10}%.3f}""")
    spark.stop()
  }
}
