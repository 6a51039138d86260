package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.Stages

/** CLI entrypoint for the full 3-stage pipeline — the Spark rebuild of
  * the reference driver (App.java:39-156, flags -i/-k/-m/-o collapsed
  * into positional args; one process, no per-stage HDFS round trips).
  *
  * Usage: PipelineMain <reviews.jsonl> <k> <maxIter> <seed> <outDir>
  *          [parquet|avro] [<stopwords.txt> <adj.txt>]
  *
  * The dictionary files hold whitespace-separated words (the reference's
  * stopwords_en.txt and adj.txt); without them the run uses a 10-word
  * demo dictionary.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val Array(input, kS, mS, seedS, outDir) = args.take(5)
    val format = args.lift(5).getOrElse("parquet")
    val (k, maxIter, seed) = (kS.toInt, mS.toInt, seedS.toLong)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Dictionaries: the reference ships adj.txt/stopwords_en.txt as side
    // files (MapperExtractTransform.java:44-62); here they are params of
    // the library — read from the optional files, else demo literals.
    def words(path: String): Seq[String] = {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.mkString.split("\\s+").filter(_.nonEmpty).toSeq finally src.close()
    }
    val (stop, dict) = args.drop(6) match {
      case Array(stopPath, adjPath) => (words(stopPath), words(adjPath))
      case Array() =>
        (Seq("a", "the", "and", "is", "of", "to", "in", "it", "this", "that"),
          Seq("great", "good", "fast", "slow", "boring", "bad", "wonderful",
            "small", "big", "nice"))
      case _ => sys.error("dictionaries need both <stopwords.txt> and <adj.txt>")
    }

    def sink(df: org.apache.spark.sql.DataFrame, path: String, name: String): Unit =
      format match {
        case "avro" => graft.sources.AvroIO.writeAvro(df, path, name)
        case _ => df.write.mode("overwrite").parquet(path)
      }

    val s1 = Stages.stage1(spark, input, stop, dict).persist()
    val n = s1.count()
    println(s"STAGE1 docs=$n")
    sink(s1, s"$outDir/stage1", "ReviewBook")

    val s2 = Stages.stage2(s1, dict, k, seed)
    sink(s2.tfidf, s"$outDir/tfidf", "finalFeature")
    sink(s2.idf, s"$outDir/idf", "DocumentFrequency")
    println(s"STAGE2 vocab=${s2.vocab.size} centroids=${s2.centroids.length}")

    val r = Stages.stage3(s2, maxIter)
    sink(r.assignments.drop("v"), s"$outDir/assignments", "assignment")
    // reference logs SEE/TIME per iteration (App.java:135-143)
    r.sseHistory.zipWithIndex.foreach { case (sse, i) =>
      println(s"ITER ${i + 1} SSE ${sse.values.sum}")
    }
    println(s"STAGE3 converged=${r.converged} iterations=${r.iterations} " +
      s"clusters=${r.centroids.length}")
    spark.stop()
  }
}
