package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Runnable equivalent of the reference's run_pipeline.py: CSV in,
  * three production parquet tables + published CSVs out.
  *
  * Usage: runMain graft.pipeline.RunPipeline <csvPath> <warehouseDir> <sinkDir>
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(csvPath, warehouseDir, sinkDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.Tables.withSessionConf(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-movie-pipeline")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (facts, genreFact, genreAvg) =
        MoviePipeline.run(spark, csvPath, warehouseDir, new CsvFileSink(sinkDir))
      Seq("movie_facts" -> facts, "movie_genre_fact" -> genreFact,
        "genre_average_revenue" -> genreAvg).foreach { case (t, n) =>
        println(s"[pipeline] $t rows=$n")
      }
    } finally spark.stop()
  }
}
