package graft.tools

import graft.{Sessions, SparkEntry}

/** Dev tool: print the formatted physical plan (`.explain("formatted")`:
  * numbered operators plus per-node details — PushedFilters,
  * ReadSchema, join build side) of the named registry queries, or of
  * every query when none is named — the per-operator audit loop
  * (pushdown reached the scan? codegen spans wide? shuffles only where
  * semantics demand?) and the form the plans/ files hold.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.tools.PlanDump [query...]"` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { q =>
      println(s"==== $q")
      SparkEntry.queries(q)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
