package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("a throwing operation is a failure with an error and no timing") {
    val out = Harness.attempt(throw new IllegalStateException("boom"))
    assert(!out.ok)
    assert(out.seconds.isNaN)
    assert(out.error.contains("IllegalStateException: boom"))
    assert(out.toMap == Map("ok" -> false, "error" -> out.error))
  }

  test("a completed operation is a timing") {
    val out = Harness.attempt(Thread.sleep(20))
    assert(out.ok && out.seconds >= 0.02 && out.error == null)
    assert(out.toMap.keySet == Set("ok", "seconds"))
  }

  test("the measuring loop runs at least `min` ops, then stops once the budget is spent") {
    assert(Harness.loop(0.0, 3)(_ => ()) == 3)
    var n = 0
    Harness.loop(0.05, 1) { _ => n += 1; Thread.sleep(10) }
    assert(n >= 5 && n < 50)
  }

  test("memo cold-build lines on stderr are counted") {
    val tee = new MemoTee(new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
    tee.println("[memo] shingles           cold build   0.10 s  (dir)")
    tee.println("some other line")
    assert(tee.lines == 1)
  }

  test("a suite key that throws is recorded as failed in every pass and never timed") {
    val work = Files.createTempDirectory("perfbench-spec").toFile
    val data = new java.io.File(work, "data")
    data.mkdirs()
    val keys = new java.io.File(work, "keys.txt")
    Files.writeString(keys.toPath, "q_ok\nq_throws\n")
    val spark = Main.session(work.getAbsolutePath)
    try {
      val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
        "q_ok" -> ((s: SparkSession, _: String) => s.range(10).toDF("id")),
        "q_throws" -> ((_: SparkSession, _: String) => throw new RuntimeException("boom")))
      val o = Main.Opts(Map("data" -> data.getAbsolutePath, "work" -> work.getAbsolutePath,
        "keys" -> keys.getAbsolutePath, "seconds" -> "0", "warmup" -> "0", "kind" -> "suite"))
      val rec = new Recorder(spark, o, None, new MemoTee(System.err), entries)
      rec.suite()
      val checks = rec.checks.map(c => c("key") -> c("ok")).toMap
      assert(checks == Map("q_ok" -> true, "q_throws" -> false))
      val (bad, good) = rec.ops.partition(_("key") == "q_throws")
      assert(bad.size == 3 && good.size == 3)
      assert(bad.forall(op => op("ok") == false && !op.contains("exec_s") && !op.contains("seconds")))
      assert(good.forall(op => op("ok") == true && op.contains("exec_s")))
    } finally spark.stop()
  }
}
