package graft
/** Prints a query's formatted physical plan as the engine runs it: a
  * composite operator materializes its intermediates while the query is
  * built, so it shows as a `Scan ExistingRDD` over its checkpointed result. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = util.Sessions.create("local[8]", "8", "graft-explain")
    val q = SparkEntry.queries(args(0))(spark, "/root/testdata/sf0.001")
    q.explain("formatted")
    spark.stop()
  }
}
