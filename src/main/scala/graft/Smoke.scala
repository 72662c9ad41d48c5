package graft

/** Dev smoke runner: mirrors the driver's t1 check — `entry()` on sf0.001
  * must return rows. Usage: `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("4")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
