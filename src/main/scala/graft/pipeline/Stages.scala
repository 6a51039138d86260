package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._

/** The reference's full 3-stage pipeline (App.java:39-156), wired
  * end-to-end on Spark. The reference runs five MapReduce jobs with an
  * HDFS round trip after each; here DataFrames flow in memory between
  * stages, with Parquet at the outer boundaries (the environment ships
  * no spark-avro module; the reference's Avro container I/O maps to
  * `format("avro")` where that module is on the classpath).
  *
  * A stage is a few Spark jobs, not one: stage 1 ranges and numbers the
  * documents, stage 2 counts them, collects the vocabulary-sized df
  * table and draws the k centroids, and stage 3 runs one aggregation per
  * Lloyd round. PipelineSpec pins these counts. Each document's TF-IDF
  * vector is one narrow per-row expression ([[graft.functions.DenseTfidf]]),
  * so the sinks and every Lloyd round read it without a shuffle.
  */
object Stages {

  /** Stage 1 — extract/transform (SURVEY §3.1; JobExtractTransform +
    * Mapper/ReducerExtractTransform): JSON-lines reviews → header-line
    * filter → field-presence predicate → tokenize/stopword/dictionary →
    * global sort by asin → sequential ids 1..N.
    *
    * Returned frame has the ReviewBook shape: (id, reviewerID, asin,
    * reviewerName, adjectiveWord, reviewText).
    */
  def stage1(
      spark: SparkSession, inputJsonl: String,
      stopwords: Seq[String], dict: Seq[String]): DataFrame = {
    val raw = spark.read.text(inputJsonl)
      // header guard (MapperExtractTransform.java:66) — applied to the raw
      // line, pre-parse, exactly as the reference
      .filter(!col("value").contains("review/text"))
    val reviewSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "reviewerID STRING, asin STRING, reviewerName STRING, reviewText STRING")
    val parsed = raw.select(from_json(col("value"), reviewSchema).as("r"))
      .select(col("r.*"))
      // field-presence predicate (MapperExtractTransform.java:69-72)
      .filter(Seq("reviewText", "reviewerID", "asin", "reviewerName")
        .map(col(_).isNotNull).reduce(_ && _))
      .withColumn("adjectiveWord",
        TextOps.tokenizeFiltered(col("reviewText"), stopwords, dict))
    // total order by asin + renumber (SURVEY §2.6 O1-O2), scale-safe:
    // range-repartition + per-partition offsets, no single-partition
    // stage. The id→asin map equals the reference's single-reducer
    // window (ReducerExtractTransform.java:34-48); PipelineSpec asserts it.
    val withId = IdOps.sequentialIdsAtScale(parsed, Seq("asin"), "id")
    withId.select(col("id"), col("reviewerID"), col("asin"), col("reviewerName"),
      col("adjectiveWord"), col("reviewText"))
  }

  /** Stage-2 output bundle: the dense TF-IDF vectors `(id, v)` with
    * `v` an `array<double>` over `vocab`, the same matrix in exploded
    * form `(id, word, weight)` (the reference's finalFeature rows), the
    * IDF model `(word, df, idf)` as a local relation, and the k seeded
    * initial centroids (side-output analog of
    * ReducerExtractFeatureTFIDF.java:85-88). `vectors` and `tfidf` are
    * narrow over the stage-1 frame: each action on them recomputes the
    * vectors from the tokens, with no shuffle.
    */
  final case class Stage2Out(vectors: DataFrame, tfidf: DataFrame, idf: DataFrame,
      centroids: Array[(Long, Array[Double])], vocab: Seq[String])

  /** Stage 2 — feature extraction (SURVEY §3.2; JobExtractFeature):
    * document frequency → smoothed IDF over the dictionary vocabulary
    * (words never seen get the df=0 smoothing ln(N+1)+1,
    * MapperExtractFeatureTFIDF.java:80-84) → dense L2-normalized TF-IDF
    * (round 6) over the sorted vocabulary → seeded random k docs become
    * centroids 0..k-1.
    *
    * The df table is vocabulary-sized, so it is collected once and every
    * dictionary word's idf comes from [[Tfidf.idfOf]], observed or not.
    */
  def stage2(stage1Out: DataFrame, dict: Seq[String], k: Int, seed: Long): Stage2Out = {
    val spark = stage1Out.sparkSession
    import spark.implicits._
    val docs = stage1Out.select(col("id"), col("adjectiveWord").as("toks"))
    val n = docs.count()
    val vocab = dict.distinct.sorted
    val observed = Tfidf.docFreq(docs, "id", "toks").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val df = vocab.map(w => observed.getOrElse(w, 0L))
    val idfs = df.map(Tfidf.idfOf(n, _))
    val idf = vocab.lazyZip(df).lazyZip(idfs).toSeq.toDF("word", "df", "idf")
    val vectors = docs.select(col("id"),
      graft.functions.DenseTfidf.dense_tfidf(col("toks"), vocab, idfs).as("v"))
    val tfidf = vectors
      .select(col("id"), posexplode(col("v")).as(Seq("pos", "weight")))
      .select(col("id"), lit(vocab.toArray)(col("pos")).as("word"), col("weight"))
    // centroid side-output: k seeded docs, re-keyed 0..k-1
    val sampled = IdOps.sampleK(vectors.select(col("id")), k, seed, "cidx")
    val centroidRows = vectors.join(broadcast(sampled), Seq("id"))
      .select(col("cidx").cast("long"), col("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    Stage2Out(vectors, tfidf, idf, centroidRows, vocab)
  }

  /** Stage 3 — K-Means (SURVEY §3.3; JobClustering): Lloyd loop from
    * the stage-2 centroids over the dense TF-IDF vectors, converging on
    * exact round-10 equality; one aggregation per round.
    */
  def stage3(s2: Stage2Out, maxIter: Int): KMeansOps.KMeansResult =
    KMeansOps.lloydInit(s2.vectors, "id", "v", s2.centroids, maxIter)
}
