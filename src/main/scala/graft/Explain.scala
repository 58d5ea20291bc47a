package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Plan-audit helper (not part of the driver contract): dump the
  * executed plan of a named query. Usage:
  *   runMain graft.Explain <query> [sfDir] [formatted] [compiles]
  * `compiles` then runs the query twice and prints the classes
  * compiled and the compile time of the cold and the warm run: a
  * warm run that still compiles means the query's generated code is
  * not being reused (see functions.ParamLiterals).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val flags = Set("formatted", "compiles")
    val sfDir = args.drop(1).find(a => !flags(a)).getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    Sessions.tune(spark, "ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("formatted")) df.explain("formatted")
    else println(df.queryExecution.executedPlan.toString)
    if (args.contains("compiles")) {
      for (run <- Seq("cold", "warm")) {
        val (classes, ms) = compiles {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        println(f"$run run: $classes classes compiled, $ms%.1f ms compiling")
      }
    }
    spark.stop()
  }

  /** Classes Janino compiled while `run` ran, and the milliseconds it
    * spent. The counters are JVM-wide: read them with nothing else
    * running. */
  def compiles(run: => Unit): (Long, Double) = {
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ns0 = CodeGenerator.compileTime
    run
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0,
      (CodeGenerator.compileTime - ns0) / 1e6)
  }
}
