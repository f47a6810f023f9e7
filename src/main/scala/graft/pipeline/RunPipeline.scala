package graft.pipeline

/** Runnable equivalent of the reference's run_pipeline.py: CSV in,
  * three production parquet tables + published CSVs out.
  *
  * Usage: runMain graft.pipeline.RunPipeline <csvPath> <warehouseDir> <sinkDir>
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(csvPath, warehouseDir, sinkDir) = args
    val spark = graft.util.Tables.localSession()
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
