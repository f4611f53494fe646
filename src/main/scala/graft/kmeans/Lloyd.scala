package graft.kmeans

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A cluster center: id + N-dim vector (kmeans.proto:9-12). */
case class Centroid(cid: Int, coordinates: Array[Double])

/** Up to `Lloyd.BlockRows` points of one length `d`, dense: row `i` is
  * `ids(i)` with coordinates `xs(i * d until (i + 1) * d)`. Never empty.
  */
private[kmeans] final case class Block(ids: Array[Long], xs: Array[Double]) {
  def n: Int = ids.length
  def d: Int = xs.length / ids.length
}

/** Lloyd's algorithm as idiomatic Spark dataflow.
  *
  * The reference implements each iteration as: master splits the input by
  * line ranges -> mapper processes do a linear argmin scan over broadcast
  * centroids (/root/reference/mapper.py:57-68) -> text-file shuffle keyed by
  * `cid % R` (mapper.py:32-38,71-84) -> reducer processes group by key and
  * take the per-dimension mean (reducer.py:19-30,58-67) -> master concatenates
  * and checks convergence (master.py:97-103,149-152).
  *
  * [[run]] plans its input once: `(vec_id, coordinates)` rows are packed
  * into dense [[Block]]s and persisted `MEMORY_AND_DISK` (8 × D bytes of
  * coordinates plus 8 bytes of id per point). The init job fills that cache,
  * and then one iteration ([[step]]) is ONE Spark job with ONE stage over
  * it, with no query planned per iteration:
  *
  *   - the K × D centroid matrix travels in the task closure, the
  *     reference's broadcast of centroids inside every RPC request
  *     (kmeans.proto:16, master.py:182-186), so assignment needs no join
  *     and no shuffle on the big side;
  *   - each task runs a primitive argmin loop over its blocks and folds
  *     every row into its cluster's (sum, count) buffer (the reference's
  *     mapper + combiner); the K-row reduce, the divide and the cid sort
  *     run on the driver over the tasks' partials, so no exchange and no
  *     global sort runs (until the partials outgrow
  *     `spark.driver.maxResultSize`; see [[step]]).
  *
  * The kernel gives the same bits as the DataFrame forms, which stay for
  * the queries and the oracle: the [[assign]] column (`array_min` over
  * [[graft.functions.SquaredDistance]] structs), the [[VecMeanAgg]]
  * group-by ([[updateAgg]]) and the posexplode/avg mean ([[updateExplode]],
  * oracle-translatable).
  *
  * Semantics kept from the reference (SURVEY.md §2.11): ties go to the
  * lower centroid id (strict `<` in mapper.py:64 keeps the earlier one);
  * clusters with no assigned points vanish from the next round
  * (reducer.py:59-67); convergence requires ALL surviving centroids to move
  * < eps (master.py:149-151), compared by id (the reference's positional
  * `zip` at master.py:100 silently mis-pairs after a vanish — we implement
  * the evidently intended id-join). A point whose coordinates are null,
  * hold a null, or do not have the centroids' length fails the call with
  * an `IllegalArgumentException` naming its vec_id.
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

  /** The same init over point blocks: each task keeps its K smallest
    * vec_ids in a bounded max-heap, and the driver takes the K smallest of
    * those as cids 1..K. On a persisted RDD this job also fills the cache.
    */
  private def initCentroids(blocks: RDD[Block], k: Int): Seq[Centroid] =
    contract(blocks.mapPartitions { it =>
      val heap = mutable.PriorityQueue.empty[(Long, Array[Double])](Ordering.by(_._1))
      it.foreach { b =>
        val d = b.d
        var i = 0
        while (i < b.n) {
          if (heap.size < k || (heap.nonEmpty && b.ids(i) < heap.head._1)) {
            heap.enqueue(b.ids(i) -> java.util.Arrays.copyOfRange(b.xs, i * d, i * d + d))
            if (heap.size > k) heap.dequeue()
          }
          i += 1
        }
      }
      heap.iterator
    }.collect().sortBy(_._1).take(k).zipWithIndex.map { case ((_, c), i) => Centroid(i + 1, c) }.toSeq)

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

  /** Rows per [[Block]]: large enough that per-block work vanishes next to
    * the argmin loop, small enough that a block is a few MB at D = 64.
    */
  private val BlockRows = 4096

  /** `points(vec_id, coordinates)` as [[Block]]s, one partition per
    * partition of the planned query. Nothing runs until an action.
    */
  private def blocks(points: DataFrame): RDD[Block] =
    points.select(col("vec_id").cast("long"), col("coordinates")).queryExecution.toRdd
      .mapPartitions(toBlocks)

  /** Packs rows into blocks, in row order. A block ends after
    * [[BlockRows]] rows or before a row of another length, so every block
    * has one `d` and the kernel can name a mismatched row. Null
    * coordinates or a null element fail here.
    */
  private def toBlocks(rows: Iterator[InternalRow]): Iterator[Block] = new Iterator[Block] {
    private val ids = new mutable.ArrayBuilder.ofLong
    private val xs = new mutable.ArrayBuilder.ofDouble
    private var n = 0
    private var d = 0

    def hasNext: Boolean = n > 0 || rows.hasNext

    def next(): Block = {
      var out: Block = null
      while (out == null && rows.hasNext) {
        val r = rows.next()
        val id = r.getLong(0)
        if (r.isNullAt(1)) throw new IllegalArgumentException(s"vec_id $id: coordinates are null")
        val v = r.getArray(1)
        val len = v.numElements()
        if (n == BlockRows || (n > 0 && len != d)) out = flush()
        d = len
        ids.addOne(id)
        var i = 0
        while (i < len) {
          if (v.isNullAt(i)) throw new IllegalArgumentException(s"vec_id $id: coordinate $i of $len is null")
          xs.addOne(v.getDouble(i))
          i += 1
        }
        n += 1
      }
      if (out == null) flush() else out
    }

    private def flush(): Block = {
      val b = Block(ids.result(), xs.result())
      ids.clear(); xs.clear(); n = 0
      b
    }
  }

  /** One task's fold of its blocks: each row goes to its nearest
    * centroid, and buffer `c` of the result sums the rows of centroid `c`
    * (row-major `cs`, cid order). The distance is `SquaredDistance`'s left-to-right
    * `acc += t * t`; ties go to the lower cid and a NaN distance ranks
    * above every number, as `array_min` orders the `(d, cid)` structs of
    * [[assignCol]]. A cluster's first row is copied, not added to 0.0, as
    * [[VecMeanAgg.reduce]] does, so each buffer has its bits.
    */
  private def fold(blocks: Iterator[Block], cs: Array[Double], k: Int, d: Int): Array[VecMeanBuf] = {
    val sums = Array.fill(k)(new Array[Double](d))
    val counts = new Array[Long](k)
    blocks.foreach { b =>
      if (b.d != d) throw new IllegalArgumentException(
        s"vec_id ${b.ids(0)}: ${b.d} coordinates, but the centroids have $d")
      val xs = b.xs
      var r = 0
      while (r < b.n) {
        val o = r * d
        var best = 0
        var bestDist = 0.0
        var c = 0
        while (c < k) {
          val co = c * d
          var acc = 0.0
          var i = 0
          while (i < d) { val t = xs(o + i) - cs(co + i); acc += t * t; i += 1 }
          if (c == 0 || acc < bestDist || (bestDist.isNaN && !acc.isNaN)) { best = c; bestDist = acc }
          c += 1
        }
        val s = sums(best)
        if (counts(best) == 0) System.arraycopy(xs, o, s, 0, d)
        else { var i = 0; while (i < d) { s(i) += xs(o + i); i += 1 } }
        counts(best) += 1
        r += 1
      }
    }
    Array.tabulate(k)(c => VecMeanBuf(sums(c), counts(c)))
  }

  /** Rethrows a task's input-contract failure as itself, not wrapped in
    * Spark's job abort.
    */
  private def contract[T](job: => T): T =
    try job catch {
      case e: SparkException if e.getCause.isInstanceOf[IllegalArgumentException] => throw e.getCause
    }

  private def maxResultBytes(points: DataFrame): Long =
    points.sparkSession.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")

  /** One Lloyd iteration as one Spark job with one stage: each task
    * [[fold]]s its point blocks into K (sum, count) buffers. The driver
    * collects the partials, merges them with [[VecMeanAgg.merge]] in
    * partition order, divides, snaps to the grid and sorts by cid.
    * Partition order makes the means the same from run to run, which
    * merging as tasks finish (`treeAggregate`) would not. It is also the
    * order the [[updateAgg]] exchange reads local map outputs in, so on one
    * executor the means are bit-identical to
    * `updateAgg(assign(points, cents)).orderBy("cid")` on the same input.
    * A retried task starts from empty buffers, and only successful tasks
    * report a partial, so no row is counted twice.
    *
    * This form packs uncached blocks from `points` on every call; [[run]]
    * packs and caches them once per loop.
    *
    * Each partial is K buffers of D doubles, and the driver holds all P of
    * them at once. Spark counts every task result of a job against
    * `spark.driver.maxResultSize`, so the one-job shape needs about
    * P × K × (D + 1) × 8 bytes under that limit. When that estimate passes
    * half the limit ([[partialsFit]]), the partials are shuffled by cluster
    * to at most K reducers instead; each merges its cluster's partials in
    * partition order, which gives the same bits, and the driver collects
    * K means.
    */
  def step(points: DataFrame, cents: Seq[Centroid], grid: Option[Int] = None): Seq[Centroid] =
    step(points, cents, grid, maxResultBytes(points))

  private[kmeans] def step(points: DataFrame, cents: Seq[Centroid], grid: Option[Int],
                           maxResultBytes: Long): Seq[Centroid] =
    contract(step(blocks(points), cents, grid, maxResultBytes))

  private def step(blocks: RDD[Block], cents: Seq[Centroid], grid: Option[Int],
                   maxResultBytes: Long): Seq[Centroid] = {
    require(cents.nonEmpty, "no centroids")
    val byCid = cents.sortBy(_.cid).toIndexedSeq
    val k = byCid.size
    val d = byCid.head.coordinates.length
    val cs = byCid.flatMap(_.coordinates).toArray
    val partials = blocks.mapPartitions(it => Iterator(fold(it, cs, k, d)))
    val bufs: Seq[(Int, VecMeanBuf)] =
      if (partialsFit(blocks.getNumPartitions, k, d, maxResultBytes))
        partials.collect().foldLeft(Array.fill(k)(VecMeanAgg.zero)) { (acc, part) =>
          for (c <- acc.indices) acc(c) = VecMeanAgg.merge(acc(c), part(c))
          acc
        }.toSeq.zipWithIndex.map(_.swap)
      else
        partials.mapPartitionsWithIndex { (pid, it) =>
          it.flatMap(_.iterator.zipWithIndex.collect { case (b, c) if b.n > 0 => c -> (pid, b) })
        }.groupByKey(new HashPartitioner(k)).mapValues { ps =>
          ps.toSeq.sortBy(_._1).foldLeft(VecMeanAgg.zero)((acc, p) => VecMeanAgg.merge(acc, p._2))
        }.collect().toSeq
    centroids(bufs.collect { case (c, b) if b.n > 0 => byCid(c).cid -> VecMeanAgg.finish(b).toArray }, grid)
  }

  /** Whether P partials of K (sum, count) buffers of D doubles, ~P × K ×
    * (D + 1) × 8 bytes, fit in half of `maxResultBytes` (0 = no limit). The
    * other half is headroom for serialization overhead.
    */
  private[kmeans] def partialsFit(numPartitions: Int, k: Int, d: Int, maxResultBytes: Long): Boolean =
    maxResultBytes <= 0 || numPartitions.toLong * k * (d + 1) * 8 <= maxResultBytes / 2

  /** Full driver loop: iterate until `maxIter` or all centroids moved < eps.
    * With `useAgg`, the points are packed into [[Block]]s and persisted
    * once, the init job fills that cache, and each iteration is one
    * [[step]] over it (one Spark job, no query planned). Without, the
    * points are cached as a DataFrame and each iteration runs the
    * [[updateExplode]] query, sorted on the driver. Either cache is
    * released when the call returns or throws. Every iteration writes
    * `[lloyd] iter=<i> max_shift=<d> s=<t>` to stderr. Returns (final
    * centroids, iterations run).
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
          useAgg: Boolean = true, grid: Option[Int] = None): (Seq[Centroid], Int) =
    run(points, k, maxIter, eps, useAgg, grid, maxResultBytes(points))

  private[kmeans] def run(points: DataFrame, k: Int, maxIter: Int, eps: Double, useAgg: Boolean,
                          grid: Option[Int], maxResultBytes: Long): (Seq[Centroid], Int) =
    if (useAgg) {
      val pts = blocks(points).persist(StorageLevel.MEMORY_AND_DISK)
      try loop(initCentroids(pts, k), maxIter, eps)(cents => contract(step(pts, cents, grid, maxResultBytes)))
      finally pts.unpersist()
    } else {
      val pts = points.select("vec_id", "coordinates").cache()
      try loop(initCentroids(pts, k), maxIter, eps)(cents => centroids(updateExplode(assign(pts, cents))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray), grid))
      finally pts.unpersist()
    }

  private def loop(init: Seq[Centroid], maxIter: Int, eps: Double)(
      step: Seq[Centroid] => Seq[Centroid]): (Seq[Centroid], Int) = {
    var cents = init
    var iters = 0
    var converged = false
    while (iters < maxIter && !converged) {
      val t0 = System.nanoTime()
      val next = step(cents)
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
    (cents, iters)
  }
}
