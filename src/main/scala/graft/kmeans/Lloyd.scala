package graft.kmeans

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Vec

/** A cluster center: id + N-dim vector (kmeans.proto:9-12). */
case class Centroid(cid: Int, coordinates: Array[Double])

/** Lloyd's algorithm as idiomatic Spark dataflow.
  *
  * The reference implements each iteration as: master splits the input by
  * line ranges -> mapper processes do a linear argmin scan over broadcast
  * centroids (/root/reference/mapper.py:57-68) -> text-file shuffle keyed by
  * `cid % R` (mapper.py:32-38,71-84) -> reducer processes group by key and
  * take the per-dimension mean (reducer.py:19-30,58-67) -> master concatenates
  * and checks convergence (master.py:97-103,149-152).
  *
  * Here one iteration ([[step]]) is ONE Spark job with ONE stage:
  *
  *   - centroids are collected to the driver (K rows) and inlined as a
  *     literal array, so assignment is a per-row expression — *no join and
  *     no shuffle at all* on the big side. This is strictly better than a
  *     crossJoin+min_by plan (which shuffles N·K rows) and mirrors the
  *     reference's broadcast of centroids inside every RPC request
  *     (kmeans.proto:16, master.py:182-186).
  *   - each map task folds its assigned rows into one [[VecMeanBuf]] per
  *     cid (the reference's mapper + combiner); the K-row reduce, the
  *     divide and the cid sort run on the driver over the tasks' partials,
  *     so no exchange, no adaptive re-plan and no global sort is planned
  *     (until the partials outgrow `spark.driver.maxResultSize`; see
  *     [[step]]).
  *     The posexplode/avg mean ([[updateExplode]], oracle-translatable)
  *     and the [[VecMeanAgg]] group-by ([[updateAgg]]) stay as the
  *     DataFrame forms of the same mean.
  *   - the loop never grows lineage: every iteration's plan is rebuilt from
  *     the cached points plus the new centroid literals.
  *
  * Semantics kept from the reference (SURVEY.md §2.11): ties go to the
  * lower centroid id (strict `<` in mapper.py:64 keeps the earlier one);
  * clusters with no assigned points vanish from the next round
  * (reducer.py:59-67); convergence requires ALL surviving centroids to move
  * < eps (master.py:149-151), compared by id (the reference's positional
  * `zip` at master.py:100 silently mis-pairs after a vanish — we implement
  * the evidently intended id-join).
  */
object Lloyd {

  /** Deterministic init: first K points ordered by vec_id, cids 1..K.
    * (Documented deviation from the reference's `random.sample`
    * master.py:54-65, which is irreproducible across engines; the seeded
    * variant lives in the MLlib cross-check.)
    */
  def initCentroids(points: DataFrame, k: Int): Seq[Centroid] =
    points.orderBy("vec_id").limit(k).collect().zipWithIndex.map { case (r, i) =>
      Centroid(i + 1, r.getSeq[Double](r.fieldIndex("coordinates")).toArray)
    }.toSeq

  // (sfDir, k) -> init centroids. Deterministic (first K by vec_id over an
  // immutable fixture), so memoizing is pure: it only deletes the repeated
  // orderBy/limit/collect driver job that every K-Means-derived query
  // (sinks, mod-partition, union, IVF, assignment, ...) would otherwise
  // re-run. K rows, so the cache is bytes, not data.
  private val initCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[Centroid]]()

  /** Memoized [[initCentroids]] over the fixture at `sfDir` (the common
    * prologue of every registered K-Means-derived query).
    */
  def initCentroidsFor(spark: org.apache.spark.sql.SparkSession, sfDir: String, k: Int): Seq[Centroid] =
    initCache.computeIfAbsent((sfDir, k),
      _ => initCentroids(graft.core.Tables.points(spark, sfDir), k))

  /** Literal `array<struct<cid,c>>` of the current centroids, ordered by cid
    * ascending so lexicographic min over (dist, cid) reproduces the
    * reference's tie-break.
    */
  private def centroidArray(cents: Seq[Centroid]): Seq[(Int, Column)] =
    cents.sortBy(_.cid).map(c => (c.cid, array(c.coordinates.map(lit).toSeq: _*)))

  /** Nearest-centroid id for a coordinates column: argmin over the K literal
    * centroids via `array_min` on (dist, cid) structs — per-row expression,
    * zero shuffle (reference's mapper inner loop, mapper.py:57-68).
    */
  def assignCol(cents: Seq[Centroid], coords: Column): Column =
    array_min(array(centroidArray(cents).map { case (cid, c) =>
      struct(graft.functions.SquaredDistance(coords, c).as("d"), lit(cid).as("cid"))
    }: _*)).getField("cid")

  /** points(vec_id, coordinates) -> assigned(vec_id, coordinates, cid). */
  def assign(points: DataFrame, cents: Seq[Centroid]): DataFrame =
    points.withColumn("cid", assignCol(cents, col("coordinates")))

  /** Per-cid mean via posexplode -> per-(cid,pos) avg -> re-assemble.
    * Oracle-translatable (DuckDB unnest+avg); shuffles D rows per point, so
    * only for correctness cross-checks — the scale path is [[updateAgg]].
    */
  def updateExplode(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("coordinates")).as(Seq("pos", "v")))
      .groupBy("cid", "pos").agg(avg("v").as("m"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("coordinates"))

  /** Per-cid mean via the distributive [[VecMeanAgg]]: map-side partial
    * (sum, count) buffers, K merged buffers on the wire.
    */
  def updateAgg(assigned: DataFrame): DataFrame =
    assigned.groupBy("cid").agg(VecMeanAgg(col("coordinates")).as("coordinates"))

  /** One full Lloyd iteration as a single DataFrame query (SURVEY.md §7.2
    * minimum slice): fixed init -> assign -> group -> mean.
    */
  def iterateOnce(points: DataFrame, k: Int, useAgg: Boolean = false): DataFrame = {
    val cents = initCentroids(points, k)
    val assigned = assign(points, cents)
    val upd = if (useAgg) updateAgg(assigned) else updateExplode(assigned)
    upd.orderBy("cid")
  }

  /** Sum of squared distances to the assigned centroid (for MLlib parity). */
  def sse(points: DataFrame, cents: Seq[Centroid]): Double = {
    val minD = array_min(array(centroidArray(cents).map { case (_, c) =>
      graft.functions.SquaredDistance(col("coordinates"), c)
    }: _*))
    points.agg(sum(minD)).head().getDouble(0)
  }

  // (sfDir, k, maxIter, eps, useAgg, grid) -> full-loop result. With
  // `grid` set the loop is deterministic down to the bit (every round's
  // centroids are exact decimals), so the memo is pure — it lets every
  // registered query that needs the CONVERGED centroids (q_kmeans_full,
  // the MLlib self-eval's SSE floor) pay the iteration once per fixture,
  // the same economics as initCache. Values are K driver-side vectors,
  // not context-bound distributed state, so no context key is needed.
  private val runCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Double, Boolean, Option[Int]), (Seq[Centroid], Int)]()

  /** Memoized [[run]] over the fixture at `sfDir`. */
  def runFor(spark: org.apache.spark.sql.SparkSession, sfDir: String, k: Int,
             maxIter: Int = 10, eps: Double = 1e-6, useAgg: Boolean = true,
             grid: Option[Int] = None): (Seq[Centroid], Int) =
    runCache.computeIfAbsent((sfDir, k, maxIter, eps, useAgg, grid),
      _ => run(graft.core.Tables.points(spark, sfDir), k, maxIter, eps, useAgg, grid))

  /** Replica of Spark SQL `round(x, scale)` for driver-side snapping:
    * BigDecimal.valueOf (shortest decimal expansion) + HALF_UP, with -0.0
    * normalized — bit-identical to the oracle's `round(m, scale) + 0.0`.
    */
  private def snap(v: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  /** Centroids from per-cid means, sorted by cid, each mean snapped to the
    * 1e-d decimal grid when `grid = Some(d)`.
    */
  private def centroids(means: Iterable[(Int, Array[Double])], grid: Option[Int]): Seq[Centroid] =
    means.toSeq.sortBy(_._1).map { case (cid, m) => Centroid(cid, grid.fold(m)(d => m.map(snap(_, d)))) }

  /** One Lloyd iteration as one Spark job with one stage: the [[assign]]
    * map, then each task folds its rows into a per-cid [[VecMeanBuf]] with
    * [[VecMeanAgg.reduce]]. The driver collects the partials, merges them
    * with [[VecMeanAgg.merge]] in partition order, divides, snaps to the
    * grid and sorts by cid. Partition order makes the means the same from
    * run to run, which merging as tasks finish (`treeAggregate`) would not.
    * It is also the order the [[updateAgg]] exchange reads local map
    * outputs in, so on one executor the means are bit-identical to
    * `updateAgg(assign(points, cents)).orderBy("cid")` on the same input.
    * A retried task starts from an empty map, and only successful tasks
    * report a partial, so no row is counted twice.
    *
    * Each partial is at most K buffers of D doubles, and the driver holds
    * all P of them at once. Spark counts every task result of a job against
    * `spark.driver.maxResultSize`, so the one-job shape needs about
    * P × K × (D + 1) × 8 bytes under that limit. When that estimate passes
    * half the limit ([[partialsFit]]), the iteration runs as the
    * [[updateAgg]] query instead, which shuffles the same buffers and
    * collects K rows.
    */
  def step(points: DataFrame, cents: Seq[Centroid], grid: Option[Int] = None): Seq[Centroid] =
    step(points, cents, grid,
      points.sparkSession.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g"))

  private[kmeans] def step(points: DataFrame, cents: Seq[Centroid], grid: Option[Int],
                           maxResultBytes: Long): Seq[Centroid] = {
    val assigned = assign(points, cents)
    val rows = assigned.select("cid", "coordinates").queryExecution.toRdd
    val d = cents.headOption.fold(0)(_.coordinates.length)
    val means =
      if (!partialsFit(rows.getNumPartitions, cents.size, d, maxResultBytes))
        updateAgg(assigned).collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toSeq
      else rows.mapPartitions { it =>
        val bufs = mutable.HashMap.empty[Int, VecMeanBuf]
        it.foreach { r =>
          val v = ArraySeq.unsafeWrapArray(r.getArray(1).toDoubleArray())
          bufs.updateWith(r.getInt(0))(b => Some(VecMeanAgg.reduce(b.getOrElse(VecMeanAgg.zero), v)))
        }
        Iterator(bufs.toMap)
      }.collect().foldLeft(Map.empty[Int, VecMeanBuf]) { (acc, part) =>
        part.foldLeft(acc) { case (m, (cid, b)) =>
          m.updated(cid, VecMeanAgg.merge(m.getOrElse(cid, VecMeanAgg.zero), b))
        }
      }.map { case (cid, b) => cid -> VecMeanAgg.finish(b).toArray }
    centroids(means, grid)
  }

  /** Whether P partials of K (sum, count) buffers of D doubles, ~P × K ×
    * (D + 1) × 8 bytes, fit in half of `maxResultBytes` (0 = no limit). The
    * other half is headroom for serialization overhead.
    */
  private[kmeans] def partialsFit(numPartitions: Int, k: Int, d: Int, maxResultBytes: Long): Boolean =
    maxResultBytes <= 0 || numPartitions.toLong * k * (d + 1) * 8 <= maxResultBytes / 2

  /** Full driver loop: iterate until `maxIter` or all centroids moved < eps.
    * Each iteration is one [[step]] (one Spark job) with `useAgg`, or the
    * [[updateExplode]] plan sorted on the driver without; points are cached
    * once. Every iteration writes `[lloyd] iter=<i> max_shift=<d> s=<t>` to
    * stderr. Returns (final centroids, iterations run).
    *
    * `grid = Some(d)` snaps every collected mean to the 1e-d decimal grid
    * before the next assignment — the q_kmeans_iter2 determinism
    * discipline extended to the whole loop, which is what lets a DuckDB
    * recursive CTE replay the iteration bit-for-bit (each round's
    * centroids are identical decimals on both engines, so the only
    * cross-engine float risk per round is the avg's last-ulp drift, which
    * the 1e-7 grid absorbs). `None` keeps raw means (MLlib parity tests).
    */
  def run(points: DataFrame, k: Int, maxIter: Int = 10, eps: Double = 1e-6,
          useAgg: Boolean = true, grid: Option[Int] = None): (Seq[Centroid], Int) = {
    val pts = points.select("vec_id", "coordinates").cache()
    var cents = initCentroids(pts, k)
    var iters = 0
    var converged = false
    while (iters < maxIter && !converged) {
      val t0 = System.nanoTime()
      val next =
        if (useAgg) step(pts, cents, grid)
        else centroids(updateExplode(assign(pts, cents)).collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray), grid)
      iters += 1
      // id-join convergence: every surviving centroid moved < eps AND no
      // cluster vanished this round (a vanish changes the id set -> not
      // converged, matching the count==len check at master.py:149-151).
      val prev = cents.map(c => c.cid -> c.coordinates).toMap
      val maxShift = next.foldLeft(0.0) { (m, c) =>
        math.max(m, prev.get(c.cid).fold(Double.PositiveInfinity) { p =>
          var s = 0.0; var i = 0
          while (i < p.length) { val d = p(i) - c.coordinates(i); s += d * d; i += 1 }
          math.sqrt(s)
        })
      }
      converged = next.size == cents.size && maxShift < eps
      cents = next
      System.err.println(f"[lloyd] iter=$iters max_shift=$maxShift%.3e s=${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    pts.unpersist()
    (cents, iters)
  }
}
