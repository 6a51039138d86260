package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.multimodal.Multimodal
import graft.ops.{Dedup, KMeansOps, Similarity}

/** Reference implementations and fixtures the specs compare the
  * library against. No query, substrate, stage or main calls them, so
  * they live with the tests.
  */
object Oracles {

  /** Exact pairwise Jaccard over distinct shingle sets: all pairs
    * sharing ≥1 shingle (plus optional equality blocking column) with
    * jaccard ≥ minJ. Output: (id1, id2, jaccard).
    */
  def jaccardPairs(
      docs: DataFrame, idCol: String, shinglesCol: String,
      minJ: Double, blockCol: Option[String] = None): DataFrame =
    jaccardPairsFromHashes(
      Dedup.shingleHashes(docs, idCol, shinglesCol, k = 1, blockCol), minJ, blockCol)

  /** Exact Jaccard pairs (id1, id2, jaccard ≥ minJ) from exploded
    * distinct elements `e` (id[, block], h) by the plain self-join on
    * (block,) h with a.id < b.id: intersections counted per pair, set
    * sizes joined back.
    */
  def jaccardPairsFromHashes(
      e: DataFrame, minJ: Double, blockCol: Option[String] = None): DataFrame = {
    val sizes = e.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val joinCond = blockCol.map(b => col(s"a.$b") === col(s"b.$b"))
      .foldLeft(col("a.h") === col("b.h") && col("a.id") < col("b.id"))(_ && _)
    e.as("a").join(e.as("b"), joinCond)
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "s1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "s2"), "id2")
      .withColumn("jaccard", col("inter") / (col("s1") + col("s2") - col("inter")))
      .filter(col("jaccard") >= minJ)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** MinHash signatures (id, sig array<long> of length numHashes) over
    * a column of shingle strings, through the exploded
    * [[Dedup.minhashFromHashes]] aggregate.
    */
  def minhashSignatures(
      docs: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int = 128, seed: Long = 42L): DataFrame =
    Dedup.minhashFromHashes(
      Dedup.shingleHashes(docs, idCol, shinglesCol, k = 1), numHashes, seed)

  /** Exploded distinct k-shingle hashes (id, h) through a per-doc
    * `array_distinct(xxhash64 ∘ shingle)` array — the construction of
    * the shingle memo (QShared.shingles3Arrays), with the same hash
    * values as [[Dedup.shingleHashes]].
    */
  def shingleHashesViaArrays(
      docs: DataFrame, idCol: String, tokensCol: String, k: Int): DataFrame = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    val sh = if (k == 1) col(tokensCol) else Dedup.tokenShingles(col(tokensCol), k)
    docs.select(col(idCol).as("id"),
        array_distinct(transform(sh, s => xxhash64(s))).as("hs"))
      .localCheckpoint()
      .select(col("id"), explode(col("hs")).as("h"))
  }

  /** 1..N ids in `orderCols` order via one global window — the
    * reference's single-reducer semantics.
    */
  def sequentialIds(df: DataFrame, orderCols: Seq[String], idCol: String): DataFrame =
    df.withColumn(idCol, row_number().over(Window.orderBy(orderCols.map(col): _*)).cast(LongType))

  /** Attach smoothed IDF `ln((N+1)/(df+1)) + 1` to a (word, df) frame
    * (ReducerExtractFeatureDocument.java:56).
    */
  def withIdf(dfreq: DataFrame, n: Long): DataFrame =
    dfreq.withColumn("idf", log((lit(n) + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))

  /** All-pairs cosine ≥ minCos via a driver-collected matrix and
    * per-partition primitive-array loops: (id1, id2, cos) for every
    * pair id1 < id2, dot products summed sequentially over dims.
    */
  def cosinePairsFast(
      corpus: DataFrame, idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val unit = Similarity.withUnitVec(
      corpus.select(col(idCol).cast("long").as("id"),
        KMeansOps.asDouble(col(vecCol)).as("v")), "v", "u")
      .select(col("id"), col("u"))
    val all = unit.as[(Long, Array[Double])].collect().sortBy(_._1)
    val bcast = spark.sparkContext.broadcast(all)
    unit.as[(Long, Array[Double])].mapPartitions { it =>
      val mat = bcast.value
      it.flatMap { case (id1, u1) =>
        mat.iterator.filter(_._1 > id1).flatMap { case (id2, u2) =>
          var s = 0.0
          var i = 0
          while (i < u1.length) { s += u1(i) * u2(i); i += 1 }
          if (s >= minCos) Iterator.single((id1, id2, s)) else Iterator.empty
        }
      }
    }.toDF("id1", "id2", "cos")
  }

  /** Dominant eigenpair of a small dense symmetric matrix by power
    * iteration from (1,…,1)/√d, normalizing every step. Sign
    * convention: first nonzero component positive. Returns
    * (eigenvalue, eigenvector).
    */
  def topEigen(m: Array[Array[Double]], iters: Int = 200): (Double, Array[Double]) = {
    val d = m.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    var it = 0
    while (it < iters) {
      val nv = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
      val nrm = math.sqrt(nv.map(x => x * x).sum)
      if (nrm == 0.0) return (0.0, v)
      v = nv.map(_ / nrm)
      lambda = nrm
      it += 1
    }
    val flip = v.find(_ != 0.0).exists(_ < 0)
    (lambda, if (flip) v.map(-_) else v)
  }

  /** Population covariance (i, j, cov) of an embedding column by a
    * whole-plan explode, independent of `Similarity.embedCovariance`'s
    * CovMoments fold: each row expands to its d² outer-product cells
    * followed by the vector itself, one posexplode + groupBy(idx) sums
    * them, and the d-row mean table joins back twice to center the raw
    * moments. Cells round to `scale` then `+0.0`, as the library does.
    */
  def covByExplode(emb: DataFrame, vecCol: String, scale: Int = 6): DataFrame = {
    val v = emb.select(KMeansOps.asDouble(col(vecCol)).as("v"))
      .filter(size(col("v")) > 0)
    val d = v.select(size(col("v"))).head().getInt(0)
    val sums = v.select(posexplode(concat(
        flatten(transform(col("v"), x => transform(col("v"), y => x * y))),
        col("v"))).as(Seq("idx", "x")))
      .groupBy(col("idx")).agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val mu = sums.filter(col("idx") >= d * d)
      .select((col("idx") - d * d).cast("int").as("i"), (col("s") / col("n")).as("mu"))
    sums.filter(col("idx") < d * d)
      .select((col("idx") / d).cast("int").as("i"),
        pmod(col("idx"), lit(d)).cast("int").as("j"), col("s"), col("n"))
      .join(broadcast(mu.select(col("i"), col("mu").as("mui"))), Seq("i"))
      .join(broadcast(mu.select(col("i").as("j"), col("mu").as("muj"))), Seq("j"))
      .select(col("i"), col("j"),
        (round(col("s") / col("n") - col("mui") * col("muj"), scale) +
          lit(0.0)).as("cov"))
  }

  /** Deterministic synthetic MJPEG AVIs in [[Multimodal.MediaSchema]]:
    * the geometry and gradients of `Multimodal.syntheticAvi`, but each
    * frame is a real ImageIO JPEG ('MJPG' handler, '00dc' chunks). JPEG
    * is lossy, so these exercise `Multimodal.videoFrames`' compressed
    * path with exact structure and approximate means.
    */
  def syntheticMjpegAvi(df: DataFrame, idCol: String): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(Multimodal.MediaSchema)
    df.select(col(idCol).cast(LongType).as("media_id")).mapPartitions { batch =>
      batch.map { r =>
        val id = r.getLong(0)
        val w = (id % 5 + 2).toInt
        val h = (id % 3 + 2).toInt
        val n = (id % 4 + 2).toInt
        val br = (id * 13 % 200).toInt
        val bg = (id * 7 % 200).toInt
        val bb = (id % 200).toInt
        val frames = (0 until n).map { f =>
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until h; x <- 0 until w)
            img.setRGB(x, y, ((br + x + f) << 16) | ((bg + y) << 8) | bb)
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", buf)
          buf.toByteArray
        }
        val bytes = Multimodal.buildAvi(w, h, "MJPG", Some("MJPG"), 24, "00dc", frames)
        val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
          .map("%02x".format(_)).mkString
        Row(id, "video", bytes, Row(bytes.length.toLong, sha, "synthetic"))
      }
    }(enc)
  }
}
