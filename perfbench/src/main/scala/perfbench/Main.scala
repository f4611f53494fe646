package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

import graft.SparkEntry
import graft.core.Tables
import graft.kmeans.Lloyd

/** One benchmark run in one JVM: set up a session, run one workload for a
  * time budget, and write every raw observation as JSON for `run.py`, which
  * checks the outputs and reduces the observations to metrics.
  *
  * Usage: perfbench.Main --kind kmeans|suite --data DIR --work DIR
  *          --seconds S --warmup S --trace 0|1 --out FILE [--k K --max-iter N] [--keys FILE]
  */
object Main {

  val SetupRepeats = 3

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def parse(args: Array[String]): Opts =
    Opts(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosAsLongConf._1, Tables.NanosAsLongConf._2)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.stream.ckptBase", s"$work/stream-ckpt")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session set-up as a user pays it: build, then one tiny query and one
    * read of the workload's input. Repeated, so `setup_s` is a median.
    */
  def setUp(o: Opts): (SparkSession, Seq[Double]) = {
    var s: SparkSession = null
    val times = (1 to SetupRepeats).map { _ =>
      if (s != null) s.stop()
      val (ss, dt) = Harness.seconds {
        val x = session(o("work"))
        x.range(1000).selectExpr("sum(id)").collect()
        x.read.parquet(s"${o("data")}/${o("warm-table")}.parquet").count()
        x
      }
      s = ss
      dt
    }
    (s, times)
  }

  /** graft.Bench's box calibration kernel: a fixed, plan-independent scan. */
  def calib(s: SparkSession): Double =
    Harness.seconds(s.range(200L * 1000 * 1000)
      .selectExpr("sum(cast(hash(id) as bigint))").collect())._2

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val tee = new MemoTee(System.err)
    System.setErr(tee)
    val (spark, setupS) = setUp(o)
    val readyS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer =
      if (o("trace") == "1") {
        val spans = new Spans
        Some(new Tracer(spark.sparkContext, spans, spans.open(-1L, "run", "run")))
      } else None
    val calibBefore = calib(spark)
    val rec = new Recorder(spark, o, tracer, tee)
    o("kind") match {
      case "kmeans" => rec.kmeans()
      case "suite" => rec.suite()
      case other => sys.error(s"unknown kind $other")
    }
    rec.finish()
    val calibAfter = calib(spark)
    tracer.foreach { t => t.drain(); t.root.end = Clock.micros() }
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "jvm_to_ready_s" -> readyS,
      "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
      "ops" -> rec.ops, "passes" -> rec.passes, "checks" -> rec.checks,
      "oracle_sql" -> rec.oracle, "modules" -> rec.modules,
      "spans" -> tracer.map(_.spans.snapshot.map(_.toMap)).getOrElse(Nil))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new File(o("out")), out)
    spark.stop()
  }
}

/** Runs one workload and keeps what it observes. */
final class Recorder(spark: SparkSession, o: Main.Opts, tracer: Option[Tracer], tee: MemoTee,
                     entries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries) {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val oracle = mutable.LinkedHashMap.empty[String, String]
  val modules = mutable.LinkedHashMap.empty[String, String]
  private val seconds = o("seconds").toDouble
  private val warmupS = o("warmup").toDouble
  private lazy val workload = tracer.map(t => t.spans.open(t.root.id, "workload", o("kind")))

  def finish(): Unit = workload.foreach(_.end = Clock.micros())

  /** Untraced runs measure every op untraced. Traced runs alternate
    * untraced and traced ops, so the tracing overhead is read from one
    * process on one input, with warm-up drift falling on both halves alike.
    */
  private def measure(op: (Int, Option[Tracer]) => Unit): Unit = tracer match {
    case None => Harness.loop(seconds, 3)(op(_, None))
    case Some(t) =>
      Harness.loop(seconds, 4) { i =>
        if (i % 2 == 0) op(i, None)
        else {
          t.attach()
          try op(i, Some(t)) finally t.detach()
        }
      }
  }

  /** Before a traced op: restart the peak of stored RDD bytes. */
  private def startBlocks(tr: Option[Tracer]): Unit = tr.foreach { t =>
    t.drain()
    t.spark.takeBlocks()
  }

  /** Op-boundary bookkeeping done outside the timed region: listener drain
    * and stored RDD blocks when traced, heap after GC always.
    */
  private def boundary(tr: Option[Tracer]): Map[String, Any] = {
    val blocks = tr.map { t =>
      t.drain()
      val (n, bytes, peak) = t.spark.takeBlocks()
      Map("rdd_blocks" -> n, "rdd_bytes" -> bytes, "rdd_peak_bytes" -> peak)
    }.getOrElse(Map.empty)
    blocks + ("heap_mb" -> Harness.heapAfterGcMb())
  }

  private def within[T](tr: Option[Tracer], parent: Option[Span], kind: String, name: String)(
      body: Option[Span] => T): T = (tr, parent) match {
    case (Some(t), Some(p)) => t.span(p, kind, name)(s => body(Some(s)))
    case _ => body(None)
  }

  def kmeans(): Unit = {
    val dir = o("data")
    val k = o.int("k")
    val maxIter = o.int("max-iter")
    def call() = Lloyd.run(Tables.points(spark, dir), k, maxIter, 1e-6, useAgg = true, grid = Some(7))
    // untimed warm-up: whole calls on the same input while the JIT settles
    Harness.loop(warmupS, 1)(_ => call())
    measure { (i, tr) =>
      startBlocks(tr)
      var res: (Seq[graft.kmeans.Centroid], Int) = null
      val out = within(tr, workload, "op", s"lloyd $i") { _ =>
        Harness.attempt { res = call() }
      }
      val result =
        if (res == null) Map.empty
        else Map("iterations" -> res._2,
          "centroids" -> res._1.sortBy(_.cid).map(c => Seq(c.cid, c.coordinates.toSeq)))
      ops += Map("kind" -> "lloyd", "index" -> i, "traced" -> tr.isDefined) ++
        out.toMap ++ result ++ boundary(tr)
    }
  }

  def suite(): Unit = {
    val base = o("data")
    val keys = scala.io.Source.fromFile(o("keys")).getLines().map(_.trim)
      .filter(k => k.nonEmpty && !k.startsWith("#")).toList
    modules ++= moduleOf(keys)
    oracle ++= keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _))
    // untimed first pass: dumps every full result for the oracle comparison
    val (_, checkS) = Harness.seconds(keys.foreach { key =>
      val out = Harness.attempt {
        entries(key)(spark, base).write.mode("overwrite").parquet(s"${o("work")}/results/$key")
      }
      checks += Map("key" -> key) ++ out.toMap
    })
    // untimed warm-up passes, together with the first, while the JIT settles
    Harness.loop(warmupS - checkS, 0)(w => pass(keys, s"warm$w", w, None))
    measure { (p, tr) =>
      startBlocks(tr)
      val (keyOps, passS) = Harness.seconds(pass(keys, s"pass$p", p, tr))
      ops ++= keyOps
      passes += Map("pass" -> p, "seconds" -> passS, "traced" -> tr.isDefined) ++ boundary(tr)
    }
  }

  /** One pass over all keys on a fresh copy of the input: the engine keys
    * its memos by input directory, so every memoized artifact is built
    * again, inside the key that triggers it.
    */
  private def pass(keys: Seq[String], name: String, p: Int, tr: Option[Tracer]): Seq[Map[String, Any]] = {
    val dir = linkCopy(o("data"), s"${o("work")}/$name")
    within(tr, workload, "pass", s"pass $p") { passSpan =>
      keys.map(key => runKey(entries(key), key, dir, p, tr, passSpan))
    }
  }

  private def runKey(fn: (SparkSession, String) => DataFrame, key: String, dir: String, pass: Int,
                     tr: Option[Tracer], passSpan: Option[Span]): Map[String, Any] = {
    val memoS0 = graft.text.ArtifactMemo.totalColdBuildSeconds
    val memo0 = tee.lines
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var qe: QueryExecution = null
    val out = within(tr, passSpan, "op", key) { keySpan =>
      def phase(name: String)(body: => Unit): Unit =
        phases(name) = within(tr, keySpan, "phase", name)(_ => Harness.seconds(body)._2)
      Harness.attempt {
        var df: DataFrame = null
        phase("build") { df = fn(spark, dir) }
        phase("plan") { qe = df.queryExecution; qe.executedPlan }
        // the full result: every row of the planned query, discarded on
        // the executors, as a noop sink does, without planning it twice
        phase("exec")(SQLExecution.withNewExecutionId(qe, Some(key))(qe.toRdd.foreach(_ => ())))
      }
    }
    val tracked =
      if (out.ok) qe.tracker.phases.map { case (n, p) => s"${n}_s" -> p.durationMs / 1e3 }
      else Map.empty
    Map("kind" -> "key", "key" -> key, "pass" -> pass, "traced" -> tr.isDefined,
      "memo_builds" -> (tee.lines - memo0),
      "memo_s" -> (graft.text.ArtifactMemo.totalColdBuildSeconds - memoS0)) ++
      out.toMap ++ (if (out.ok) phases.map { case (n, s) => s"${n}_s" -> s } ++ tracked else Map.empty)
  }

  private def linkCopy(base: String, dest: String): String = {
    val d = new File(dest)
    d.mkdirs()
    new File(base).listFiles().filter(_.isFile).foreach { f =>
      val target = Paths.get(dest, f.getName)
      if (!Files.exists(target)) Files.createLink(target, f.toPath)
    }
    d.getAbsolutePath
  }

  /** Module of each key, from each module's public `queries` map. */
  private def moduleOf(keys: Seq[String]): Seq[(String, String)] = {
    val byModule: Seq[(String, Iterable[String])] = Seq(
      "kmeans" -> graft.kmeans.KmeansQueries.queries.keys,
      "queries" -> Seq(graft.queries.RelationalQueries.queries, graft.queries.TpchDerived.queries,
        graft.queries.WindowSetQueries.queries, graft.queries.ScalarQueries.queries,
        graft.queries.DataPrepQueries.queries, graft.queries.TimeSeriesQueries.queries,
        graft.queries.SketchQueries.queries, graft.queries.StatsQueries.queries,
        graft.queries.EvalMetricsQueries.queries, graft.queries.QualityQueries.queries).flatMap(_.keys),
      "streaming" -> graft.streaming.EventQueries.queries.keys,
      "text" -> Seq(graft.text.TextQueries.queries, graft.text.CorpusQueries.queries,
        graft.text.CorpusStatsQueries.queries, graft.text.PackingQueries.queries,
        graft.text.RetrievalQueries.queries, graft.text.GraphQueries.queries).flatMap(_.keys),
      "sim" -> (graft.sim.SimilarityQueries.queries.keys ++ graft.sim.SpatialQueries.queries.keys),
      "multimodal" -> graft.multimodal.BlobQueries.queries.keys,
      "ml" -> (graft.ml.MLQueries.queries.keys ++ graft.ml.TrainQueries.queries.keys),
      "core" -> graft.core.Sinks.queries.keys,
      "sources" -> graft.sources.TimeTravel.queries.keys)
    val index = byModule.flatMap { case (m, ks) => ks.map(_ -> m) }.toMap
    keys.map(k => k -> index.getOrElse(k, "unknown"))
  }
}
