package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev diagnostic for the q299 layout chooser: times BOTH exact
  * user-similarity layouts (inverted index vs densified tile) over the
  * same guarded posting frame, next to the profile stats and the
  * decision the cost model takes — the calibration measurement for the
  * sparse-unit-vs-dense-multiply weight. Not part of the driver
  * contract. Runs on `SPARK_GRAFT_CPUS` cores (default 32), as
  * [[graft.Bench]] does. */
object LayoutProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.sessionConf)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ext.Similarity
    val postings = Similarity.sparseUserPostings(spark, dir, Similarity.SparseDfCap)
    val st = Similarity.userSimStats(postings)
    println(s"stats=$st choice=${Similarity.chooseUserSimLayout(st)}")
    def time(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      def run(): Double = {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm
      println(f"$label%s: ${math.min(run(), run())}%.2fs")
    }
    time("sparse (inverted index)")(Similarity.sparseUserTop3(postings))
    time("tiled (densified)")(
      Similarity.tiledDenseTop3(spark, Similarity.densifyPostings(postings)))
    spark.stop()
  }
}
