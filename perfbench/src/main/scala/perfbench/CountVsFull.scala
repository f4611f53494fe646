package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry

/** Times every registered key twice by `count()` and twice to its full
  * result, and writes the minimum of each as a TSV table. `count()` lets the
  * optimizer prune projections and sorts, so it under-measures some keys;
  * this table shows which ones and by how much.
  *
  * Usage: perfbench.CountVsFull <fixtureDir> <out.tsv> <workDir>
  */
object CountVsFull {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile, work) = args.take(3)
    val spark = Main.session(work)
    spark.range(1000).selectExpr("sum(id)").collect()
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (key, fn) =>
      def count() = Harness.attempt(fn(spark, sfDir).count())
      def full() = Harness.attempt {
        val qe = fn(spark, sfDir).queryExecution
        SQLExecution.withNewExecutionId(qe, Some(key))(qe.toRdd.foreach(_ => ()))
      }
      def best(xs: Seq[Outcome]): String =
        if (xs.forall(_.ok)) f"${xs.map(_.seconds).min}%.3f" else "failed"
      val c = best(Seq(count(), count()))
      val f = best(Seq(full(), full()))
      System.err.println(s"[count-vs-full] $key $c $f")
      s"$key\t$c\t$f"
    }
    Files.writeString(Paths.get(outFile), ("key\tcount_s\tfull_s" +: rows).mkString("", "\n", "\n"))
    spark.stop()
  }
}
