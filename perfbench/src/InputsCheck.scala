package perfbench

import org.apache.spark.sql.SparkSession

/** Prints, for each seed given, the fingerprint of every generated
  * `dim_build` input and the first request passes of `rollup_read`.
  * `test_inputs.py` runs it to check that a seed always yields the same
  * inputs and that different seeds differ.
  *
  *   InputsCheck <seed>...
  */
object InputsCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args.map(_.toLong).foreach { seed =>
      val d = new DimBuild(seed)
      val fps = d.inputs(spark).map { case (k, df) =>
        val (h, n) = Harness.fingerprint(df.queryExecution)
        s"$k=$h/$n"
      }
      println(s"dim $seed ${fps.mkString(" ")}")
      println(s"perm $seed " + (0 until 3).map(p =>
        Harness.permutation(Harness.RollupTypes, seed, p).mkString(",")).mkString(" "))
    } finally spark.stop()
  }
}
