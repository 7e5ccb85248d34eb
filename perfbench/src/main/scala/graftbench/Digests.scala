package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Prints the expected-digest block for one scale from a `graft.Verify`
  * output directory (one parquet directory per entry), using the same
  * digest as the benchmark's output check:
  *
  *   Digests <verifyOutDir> <scale> <entry-prefix>...
  *
  * Run it only on a directory that `tools/selfcheck.py` has shown equal
  * to the DuckDB oracle; the block goes into expected_digests.json. */
object Digests {
  def main(args: Array[String]): Unit = {
    val Array(dir, scale) = args.take(2)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val entries = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    val block = args.drop(2).map { short =>
      val full = entries.find(_.startsWith(short + "_"))
        .getOrElse(throw new IllegalArgumentException(s"no output for $short in $dir"))
      short -> Mix.digest(spark.read.parquet(s"$dir/$full").collect().toSeq)
    }
    println(Json.obj(Seq(scale -> scala.collection.immutable.ListMap(block.toIndexedSeq: _*))))
    spark.stop()
  }
}
