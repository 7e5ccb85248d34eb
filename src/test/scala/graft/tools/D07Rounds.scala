package graft.tools
object D07Rounds {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session(32)
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val n = graft.ops.Dedup.d07(spark, args.headOption.getOrElse("/root/testdata/sf0.1")).count()
    println(s"[d07] rows=$n rounds=${graft.ops.Dedup.lastCcRounds} time=${(System.nanoTime()-t0)/1e9}s")
    spark.stop()
  }
}
