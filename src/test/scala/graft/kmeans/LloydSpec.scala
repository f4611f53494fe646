package graft.kmeans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Exact-semantics parity with the reference on its own sample
  * (FIXTURES.md A4) + Lloyd invariants (SURVEY.md §5.2-5.3).
  */
class LloydSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Plain-Scala replica of one reference iteration (mapper.py:57-68 argmin
    * with strict '<' tie-break, reducer.py:19-30 mean) used as the expected
    * value — computed independently of any Spark dataflow.
    */
  private def expectedIter1(pts: Seq[(Long, Array[Double])], cents: Seq[Centroid]) = {
    val assign = pts.map { case (id, p) =>
      val best = cents.map(c => {
        var s = 0.0; var i = 0
        while (i < p.length) { val d = p(i) - c.coordinates(i); s += d * d; i += 1 }
        (s, c.cid)
      }).min // (dist, cid) lexicographic: strict '<' keeps lower cid on ties
      (id, best._2)
    }.toMap
    val means = pts.groupBy { case (id, _) => assign(id) }.map { case (cid, grp) =>
      val d = grp.head._2.length
      val sum = new Array[Double](d)
      grp.foreach { case (_, p) => var i = 0; while (i < d) { sum(i) += p(i); i += 1 } }
      cid -> sum.map(_ / grp.size)
    }
    (assign, means)
  }

  /** One iteration as the `updateAgg` DataFrame query (exchange, cid sort,
    * collect), snapped like Spark SQL `round(m, d) + 0.0`: the reference
    * that [[Lloyd.step]] must match bit for bit.
    */
  private def aggStep(pts: DataFrame, cents: Seq[Centroid], grid: Option[Int] = None): Seq[Centroid] =
    Lloyd.updateAgg(Lloyd.assign(pts, cents)).orderBy("cid").collect().map { r =>
      val m = r.getSeq[Double](1).toArray
      Centroid(r.getInt(0), grid.fold(m)(d => m.map(v => java.math.BigDecimal.valueOf(v)
        .setScale(d, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0)))
    }.toSeq

  /** [[aggStep]] looped with the id-joined convergence rule of master.py. */
  private def aggLoop(pts: DataFrame, k: Int, maxIter: Int, eps: Double,
                      grid: Option[Int]): (Seq[Centroid], Int) = {
    var cents = Lloyd.initCentroids(pts, k)
    var iters = 0
    var converged = false
    while (iters < maxIter && !converged) {
      val next = aggStep(pts, cents, grid)
      iters += 1
      val prev = cents.map(c => c.cid -> c.coordinates).toMap
      converged = next.size == cents.size && next.forall(c => prev.get(c.cid).exists(p =>
        math.sqrt(p.indices.map(i => (p(i) - c.coordinates(i)) * (p(i) - c.coordinates(i))).sum) < eps))
      cents = next
    }
    (cents, iters)
  }

  private def bits(cs: Seq[Centroid]) =
    cs.map(c => c.cid -> c.coordinates.map(java.lang.Double.doubleToRawLongBits).toSeq)

  test("iteration 1 on the reference's 20-point sample matches a scalar replica") {
    val df = TestSpark.refPointsDf
    val cents = Lloyd.initCentroids(df, 2)
    assert(cents.map(_.cid) == Seq(1, 2))
    assert(cents.head.coordinates.toSeq == TestSpark.refPoints.head._2.toSeq)

    val (expAssign, expMeans) = expectedIter1(TestSpark.refPoints, cents)
    val gotAssign = Lloyd.assign(df, cents).select("vec_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotAssign == expAssign)

    val gotMeans = Lloyd.updateExplode(Lloyd.assign(df, cents))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    assert(gotMeans.keySet == expMeans.keySet)
    for ((cid, exp) <- expMeans; got = gotMeans(cid); i <- exp.indices)
      assert(math.abs(got(i) - exp(i)) < 1e-12, s"cid=$cid dim=$i")
  }

  test("Aggregator and posexplode mean paths agree") {
    val df = TestSpark.refPointsDf
    val cents = Lloyd.initCentroids(df, 3)
    val a = Lloyd.updateAgg(Lloyd.assign(df, cents)).orderBy("cid")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
    val b = Lloyd.updateExplode(Lloyd.assign(df, cents)).orderBy("cid")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
    assert(a.length == b.length)
    for (((cidA, va), (cidB, vb)) <- a.zip(b)) {
      assert(cidA == cidB)
      for (i <- va.indices) assert(math.abs(va(i) - vb(i)) < 1e-9)
    }
  }

  test("ties go to the lower centroid id (mapper.py:64 strict '<')") {
    val s = spark
    import s.implicits._
    // both centroids equidistant from the single point
    val pts = Seq((0L, Array(0.0, 0.0))).toDF("vec_id", "coordinates")
    val cents = Seq(Centroid(1, Array(1.0, 0.0)), Centroid(2, Array(-1.0, 0.0)))
    val cid = Lloyd.assign(pts, cents).select("cid").head().getInt(0)
    assert(cid == 1)
  }

  test("empty clusters vanish from the next round (reducer.py:59-67)") {
    val s = spark
    import s.implicits._
    val pts = Seq((0L, Array(0.0, 0.0)), (1L, Array(1.0, 0.0))).toDF("vec_id", "coordinates")
    // centroid 3 is far away: no point assigns to it
    val cents = Seq(Centroid(1, Array(0.0, 0.0)), Centroid(2, Array(1.0, 0.0)),
      Centroid(3, Array(1e6, 1e6)))
    val cids = Lloyd.updateExplode(Lloyd.assign(pts, cents))
      .select("cid").collect().map(_.getInt(0)).toSet
    assert(cids == Set(1, 2))
  }

  test("SSE is non-increasing across Lloyd iterations (sf0.001)") {
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001).cache()
    var cents = Lloyd.initCentroids(pts, 5)
    var prevSse = Double.MaxValue
    for (_ <- 1 to 4) {
      val sse = Lloyd.sse(pts, cents)
      assert(sse <= prevSse + 1e-6, s"SSE increased: $prevSse -> $sse")
      prevSse = sse
      cents = aggStep(pts, cents)
    }
    pts.unpersist()
  }

  test("step matches the updateAgg mean bit for bit; run(grid = 7) matches its loop (sf0.001)") {
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001).cache()
    val cents = Lloyd.initCentroids(pts, 5)
    assert(bits(Lloyd.step(pts, cents)) == bits(aggStep(pts, cents)))
    val (got, gotIters) = Lloyd.run(pts, k = 5, grid = Some(7))
    val (exp, expIters) = aggLoop(pts, k = 5, maxIter = 10, eps = 1e-6, grid = Some(7))
    assert(gotIters == expIters)
    assert(bits(got) == bits(exp))
    // the explode mean, sorted on the driver: same loop to within the grid
    val (explode, explodeIters) = Lloyd.run(pts, k = 5, useAgg = false, grid = Some(7))
    assert(explodeIters == gotIters)
    assert(explode.map(_.cid) == got.map(_.cid))
    for ((e, g) <- explode.zip(got); i <- g.coordinates.indices)
      assert(math.abs(e.coordinates(i) - g.coordinates(i)) < 1e-7, s"cid ${g.cid} dim $i")
    pts.unpersist()
  }

  /** (jobs, stages, shuffle map tasks, SQL executions) that `body` runs,
    * counted by a `SparkListener` on a local property and a job tag set
    * only around `body`.
    */
  private def counted[T](body: => T): (T, (Int, Int, Int, Int)) = {
    val sc = spark.sparkContext
    val tag = "graft.test.lloyd"
    var jobs, stages, shuffleMapTasks, sqlExecutions = 0
    val listener = new SparkListener {
      private val mine = scala.collection.mutable.Set.empty[Int]
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (Option(e.properties).exists(_.getProperty(tag) != null)) {
          jobs += 1
          mine ++= e.stageIds
        }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        if (mine(e.stageInfo.stageId)) stages += 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (mine(e.stageId) && e.taskType == "ShuffleMapTask") shuffleMapTasks += 1
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          synchronized(sqlExecutions += 1)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "1")
      sc.addJobTag(tag)
      val out = try body finally { sc.setLocalProperty(tag, null); sc.removeJobTag(tag) }
      org.apache.spark.TestListenerBus.drain(sc)
      (out, listener.synchronized((jobs, stages, shuffleMapTasks, sqlExecutions)))
    } finally sc.removeSparkListener(listener)
  }

  test("one Lloyd iteration is one Spark job with one stage and no shuffle") {
    // eps = 0 never converges, so each call runs exactly maxIter iterations
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001)
    def run(maxIter: Int, maxResultBytes: Long = 1L << 30) =
      counted(Lloyd.run(pts, k = 5, maxIter = maxIter, eps = 0.0, useAgg = true, grid = None, maxResultBytes))
    val ((_, iters2), (jobs2, stages2, _, sql2)) = run(2)
    val ((got3, iters3), (jobs3, stages3, shuffle3, sql3)) = run(3)
    assert(iters2 == 2 && iters3 == 3)
    assert(jobs3 - jobs2 == 1, s"jobs per iteration: ${jobs3 - jobs2}")
    assert(stages3 - stages2 == 1, s"stages per iteration: ${stages3 - stages2}")
    assert(shuffle3 == 0, s"$shuffle3 shuffle map tasks in a 3-iteration run")
    assert(sql3 - sql2 == 0, s"SQL executions per iteration: ${sql3 - sql2}")
    val (_, (_, _, _, sqlProbe)) = counted(pts.limit(1).collect())
    assert(sqlProbe == 1, "the counter does not see a DataFrame collect")
    // past a 1-byte maxResultSize every iteration shuffles its partials, to the same bits
    val ((fallback, fallbackIters), (_, _, fallbackShuffle, _)) = run(3, maxResultBytes = 1L)
    assert(fallbackShuffle > 0, "the fallback did not shuffle")
    assert(fallbackIters == 3)
    assert(bits(fallback) == bits(got3))
  }

  test("step shuffles its partials by cluster when they would pass maxResultSize") {
    // K = 5, D = 64: 2,600 bytes of partials per partition against half of 1 GiB
    assert(Lloyd.partialsFit(206000, 5, 64, 1L << 30))
    assert(!Lloyd.partialsFit(207000, 5, 64, 1L << 30))
    assert(Lloyd.partialsFit(Int.MaxValue, 5, 64, 0L))
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001).repartition(4).cache()
    val cents = Lloyd.initCentroids(pts, 5)
    val (oneJob, (_, _, oneJobShuffle, _)) = counted(Lloyd.step(pts, cents, None, 1L << 30))
    val (fallback, (_, _, fallbackShuffle, _)) = counted(Lloyd.step(pts, cents, None, 1L))
    assert(oneJobShuffle == 0)
    assert(fallbackShuffle > 0, "the fallback did not shuffle the partials")
    assert(bits(fallback) == bits(oneJob))
    assert(bits(fallback) == bits(aggStep(pts, cents)))
    pts.unpersist()
  }

  test("grid-snapped run is partition-independent: 1 and 7 partitions, some empty (sf0.001)") {
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001)
    val seven = pts.repartition(7, col("vec_id") % 3)
    val sizes = seven.queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length == 7 && sizes.count(_ == 0) >= 4, sizes.mkString(","))
    val (base, baseIters) = Lloyd.run(pts, k = 5, grid = Some(7))
    for ((name, df) <- Seq("1" -> pts.repartition(1), "7" -> seven)) {
      val (got, iters) = Lloyd.run(df, k = 5, grid = Some(7))
      assert(iters == baseIters, s"$name partitions")
      assert(bits(got) == bits(base), s"$name partitions")
    }
  }

  private def frame(rows: (Long, Seq[Any])*): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v) }: _*),
    StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("coordinates", ArrayType(DoubleType, containsNull = true)))))

  test("the kernel sends equal distances to the lower cid, as assign + updateAgg does") {
    // (0, 0) and (0, 4) are equidistant from cids 1 and 2
    val pts = frame(0L -> Seq(0.0, 0.0), 1L -> Seq(0.0, 4.0), 2L -> Seq(-3.0, 0.0))
    val cents = Seq(Centroid(2, Array(1.0, 2.0)), Centroid(1, Array(-1.0, 2.0)))
    val got = Lloyd.step(pts, cents)
    assert(bits(got) == bits(aggStep(pts, cents)))
    assert(got.map(_.cid) == Seq(1))
  }

  test("the kernel ranks a NaN distance above every number, as assign + updateAgg does") {
    // cid 1 is NaN away from every point; point 2 is NaN away from every centroid
    val pts = frame(0L -> Seq(0.0, 0.0), 1L -> Seq(9.0, 9.0), 2L -> Seq(Double.NaN, 1.0))
    val cents = Seq(Centroid(1, Array(Double.NaN, 0.0)), Centroid(2, Array(1.0, 1.0)),
      Centroid(3, Array(10.0, 10.0)))
    val got = Lloyd.step(pts, cents)
    assert(bits(got) == bits(aggStep(pts, cents)))
    assert(got.map(_.cid) == Seq(1, 2, 3))
    assert(got.head.coordinates(0).isNaN && got.head.coordinates(1) == 1.0)
  }

  test("a singleton cluster at -0.0 keeps -0.0 without a grid, as assign + updateAgg does") {
    val pts = frame(0L -> Seq(-0.0, 1.0), 1L -> Seq(10.0, 10.0), 2L -> Seq(11.0, 10.0))
    val cents = Seq(Centroid(1, Array(0.0, 0.0)), Centroid(2, Array(10.0, 10.0)))
    val got = Lloyd.step(pts, cents)
    assert(bits(got) == bits(aggStep(pts, cents)))
    assert(java.lang.Double.doubleToRawLongBits(got.head.coordinates(0)) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
  }

  /** `body` fails with an IllegalArgumentException whose message names
    * every part of `names`, and leaves no RDD persisted.
    */
  private def rejects(names: String*)(body: => Any): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException](body)
    for (n <- names) assert(e.getMessage.contains(n), e.getMessage)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  private val valid = Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(1.0, 0.0), 2L -> Seq(5.0, 5.0))

  test("a point with null coordinates fails the call, naming its vec_id") {
    val pts = frame(valid :+ (7L -> null): _*)
    rejects("vec_id 7", "null")(Lloyd.run(pts, k = 2))
    rejects("vec_id 7", "null")(Lloyd.step(pts, Lloyd.initCentroids(pts.filter("vec_id < 7"), 2)))
  }

  test("a point with a null element fails the call, naming its vec_id and length") {
    val pts = frame(valid :+ (7L -> Seq(1.0, null)): _*)
    rejects("vec_id 7", "coordinate 1 of 2 is null")(Lloyd.run(pts, k = 2))
    rejects("vec_id 7", "coordinate 1 of 2 is null")(
      Lloyd.step(pts, Lloyd.initCentroids(pts.filter("vec_id < 7"), 2)))
  }

  test("a point whose length differs from the centroids' fails the call, naming both lengths") {
    val pts = frame(valid :+ (7L -> Seq(1.0, 2.0, 3.0)): _*)
    rejects("vec_id 7", "3 coordinates", "centroids have 2")(Lloyd.run(pts, k = 2))
    rejects("vec_id 7", "3 coordinates", "centroids have 2")(
      Lloyd.step(pts, Lloyd.initCentroids(pts.filter("vec_id < 7"), 2)))
    // the short row sits between valid rows of one partition
    val mid = frame(0L -> Seq(0.0, 0.0), 5L -> Seq(1.0), 1L -> Seq(1.0, 0.0), 2L -> Seq(5.0, 5.0))
    rejects("vec_id 5", "1 coordinates", "centroids have 2")(Lloyd.run(mid, k = 2))
  }

  test("full loop converges and assignment is a fixpoint at convergence") {
    val df = TestSpark.refPointsDf
    val (cents, iters) = Lloyd.run(df, k = 2, maxIter = 50, eps = 1e-9)
    assert(iters < 50, "did not converge")
    // one more update moves nothing
    val next = Lloyd.updateAgg(Lloyd.assign(df, cents)).orderBy("cid")
      .collect().map(r => Centroid(r.getInt(0), r.getSeq[Double](1).toArray))
    assert(next.length == cents.length)
    for ((n, c) <- next.zip(cents.sortBy(_.cid)); i <- n.coordinates.indices)
      assert(math.abs(n.coordinates(i) - c.coordinates(i)) < 1e-9)
  }

  test("convergence compares by centroid id, not position (master.py:100 zip bug fixed)") {
    val s = spark
    import s.implicits._
    // 2 tight clusters + 1 unhit centroid: after iter 1 the id set shrinks,
    // so the loop must NOT report convergence on that round.
    val pts = Seq((0L, Array(0.0, 0.0)), (1L, Array(0.1, 0.0)),
      (2L, Array(10.0, 0.0)), (3L, Array(10.1, 0.0))).toDF("vec_id", "coordinates")
    val (cents, iters) = Lloyd.run(pts, k = 3, maxIter = 10, eps = 1e-6)
    // k=3 init = first 3 points -> cluster 3 (at 10.0) absorbs point 3; cluster
    // 1/2 split {0},{1}; loop continues until stable with the surviving ids
    assert(iters >= 2)
    assert(cents.map(_.cid).toSet.subsetOf(Set(1, 2, 3)))
  }

  test("q_ari: matches a driver-side exact ARI over the same assignment") {
    val row = graft.SparkEntry.queries("q_ari")(spark, TestSpark.Sf0001)
      .collect().head
    val cents = Lloyd.initCentroidsFor(spark, TestSpark.Sf0001, KmeansQueries.K)
    val pts = graft.core.Tables.points(spark, TestSpark.Sf0001)
      .withColumn("cid", Lloyd.assignCol(cents, col("coordinates")))
      .select("vec_id", "cid").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid")).toMap
    val labs = graft.core.Tables.embeddings(spark, TestSpark.Sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label"))
    val cells = labs.groupBy { case (v, l) => (pts(v), l) }
      .view.mapValues(_.length.toLong).toMap
    def c2(x: Long) = x * (x - 1) / 2
    val sij = cells.values.map(c2).sum
    val sa = cells.groupBy(_._1._1).values.map(v => c2(v.values.sum)).sum
    val sb = cells.groupBy(_._1._2).values.map(v => c2(v.values.sum)).sum
    val n = labs.length.toLong
    val n2 = c2(n)
    val expected = BigDecimal(
      2.0 * (sij.toDouble * n2.toDouble - sa.toDouble * sb.toDouble) /
        ((sa + sb).toDouble * n2.toDouble - 2.0 * sa.toDouble * sb.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getAs[Long]("sij") == sij && row.getAs[Long]("sa") == sa &&
      row.getAs[Long]("sb") == sb)
    assert(math.abs(row.getAs[Double]("ari") - expected) < 2e-6,
      s"ari ${row.getAs[Double]("ari")} vs $expected")
    // sanity: ARI is bounded by 1 and chance-corrected around 0
    assert(row.getAs[Double]("ari") <= 1.0)
  }

  test("q_v_measure: scores bounded, V is the harmonic mean, conditioning holds") {
    val r = graft.SparkEntry.queries("q_v_measure")(spark, TestSpark.Sf0001)
      .collect().head
    val h = r.getAs[Long]("homogeneity_ppm")
    val c = r.getAs[Long]("completeness_ppm")
    val v = r.getAs[Long]("v_ppm")
    // conditioning can only reduce entropy, so both scores sit in
    // [0, 1e6] up to one micro-nat rounding grain
    assert(h >= -5L && h <= 1000000L, s"homogeneity $h")
    assert(c >= -5L && c <= 1000000L, s"completeness $c")
    assert(v == 2 * h * c / (h + c), "V must be the harmonic mean")
    assert(v <= math.max(h, c) && v >= math.min(h, c) - 1)
  }
}
