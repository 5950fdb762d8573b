package graft
import graft.obs.Session
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    SparkEntry.queries(args(0))(spark, if (args.length > 1) args(1) else "/root/testdata/sf0.1")
      .explain("formatted")
    spark.stop()
  }
}
