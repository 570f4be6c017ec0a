package graft.tools

import graft.SparkEntry

/** Dev utility: dump the formatted physical plan of driver-contract
  * queries (`runMain graft.tools.Explain <sfDir> [queryName…]`) to audit
  * pushdown / pruning / join strategy / codegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkEntry.session("graft-explain", 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try SparkEntry.queries(name)(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
