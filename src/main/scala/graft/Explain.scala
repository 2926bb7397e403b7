package graft

import graft.queries.Queries

/** Plan-inspection main: prints explain("formatted") for each headline
  * query so shuffle counts, broadcast choices, and pushed filters can
  * be reviewed (and diffed) outside the test cycle. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // "ALL" sweeps every registered query (the full plan-audit pass)
    val names =
      if (args.length > 1 && args(1) == "ALL") Queries.all.map(_.name)
      else if (args.length > 1) args.drop(1).toSeq
      else Queries.headlines.map(_.name)
    val spark = Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Queries.runners(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
