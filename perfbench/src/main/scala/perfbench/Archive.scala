package perfbench

import org.apache.spark.sql.functions.col

import graft.ops.Tables

/** Loads the classes a run needs before its first op, so that `run.py`
  * can write them to a class-data archive once per build: a session with
  * GraftExtensions, both workloads' inputs resolved and one small
  * aggregate. Runs then map the archive instead of reading and verifying
  * the same classes from the jars. It takes the arguments of a run. */
object Archive {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = Main.session(a)
    Seq("board", "pipeline").foreach { w =>
      Workloads(w, a.copy(workload = w)).resolveInputs(spark)
    }
    Tables.load(spark, a.data, "lineitem").groupBy(col("l_returnflag")).count().collect()
    spark.stop()
    System.exit(0)
  }
}
