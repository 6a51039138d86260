package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Tfidf
import graft.pipeline.Stages

/** Golden mini-corpus test (FIXTURES.md §1): hand-computed expected
  * values for the full 3-stage reference pipeline.
  *
  * Corpus (after filters): 4 docs; dict = {great,fast,slow,boring},
  * stop = {a,the,and}. ids in asin order: B000→1 (empty tokens),
  * B001→2 [slow,boring], B002→3 [fast,great], B004→4 [great,great,fast].
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.countJobs

  val Dict = Seq("great", "fast", "slow", "boring")
  val Stop = Seq("a", "the", "and")
  // Spark jobs pinned by the job-count test
  val Stage2Jobs = 6
  val JobsPerRound = 2
  lazy val jsonl = getClass.getResource("/reviews.jsonl").getPath

  lazy val s1 = Stages.stage1(spark, jsonl, Stop, Dict).persist()

  test("stage1: header + presence filters, asin sort, sequential ids, token goldens") {
    val rows = s1.select($"id", $"asin", $"adjectiveWord")
      .as[(Long, String, Seq[String])].collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq("B000", "B001", "B002", "B004"))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val toks = rows.map(r => r._2 -> r._3).toMap
    assert(toks("B000") == Seq())                       // all stopwords
    assert(toks("B001") == Seq("slow", "boring"))       // 'read' not in dict
    assert(toks("B002") == Seq("fast", "great"))        // 'and' stopped
    assert(toks("B004") == Seq("great", "great", "fast")) // dups kept
  }

  test("stage1: scale-safe id path (default) == reference window path (parityIds)") {
    val atScale = s1.select($"id", $"asin").as[(Long, String)].collect().toMap
    val parity = Stages.stage1(spark, jsonl, Stop, Dict, parityIds = true)
      .select($"id", $"asin").as[(Long, String)].collect().toMap
    assert(atScale == parity)
  }

  test("stage2: smoothed idf incl. df=0 backfill; golden L2-normalized round-6 weights") {
    val s2 = Stages.stage2(s1, Dict, k = 2, seed = 7L)
    val idf = s2.idf.select($"word", $"df", $"idf").as[(String, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val n = 4
    def expIdf(df: Long) = math.log((n + 1.0) / (df + 1.0)) + 1.0
    assert(idf("great") == ((2L, expIdf(2))))
    assert(idf("fast") == ((2L, expIdf(2))))
    assert(idf("slow") == ((1L, expIdf(1))))
    assert(idf("boring") == ((1L, expIdf(1))))

    val w = s2.tfidf.as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(w.size == 16, "dense: 4 docs x 4 vocab words")
    // doc 4 [great,great,fast]: equal idf => weights 2/sqrt5, 1/sqrt5
    assert(w((4L, "great")) == 0.894427)
    assert(w((4L, "fast")) == 0.447214)
    assert(w((4L, "slow")) == 0.0)
    // doc 3 [fast,great] and doc 2 [slow,boring]: 1/sqrt2 each
    assert(w((3L, "fast")) == 0.707107 && w((3L, "great")) == 0.707107)
    assert(w((2L, "slow")) == 0.707107 && w((2L, "boring")) == 0.707107)
    // doc 1 empty: zero vector (len-0 guard + norm-0 guard)
    Dict.foreach(word => assert(w((1L, word)) == 0.0))
    // centroid side-output: k=2 entries keyed 0..k-1, vectors over sorted vocab
    assert(s2.centroids.map(_._1).sorted.toSeq == Seq(0L, 1L))
    assert(s2.centroids.forall(_._2.length == 4))
  }

  test("stage3: seeded Lloyd from stage-2 centroids converges on the golden corpus") {
    val s2 = Stages.stage2(s1, Dict, k = 2, seed = 7L)
    val res = Stages.stage3(s2, maxIter = 10)
    assert(res.converged, s"should converge within 10 iters (ran ${res.iterations})")
    assert(res.assignments.count() == 4)
    assert(res.centroids.length <= 2)
    val totalSse = res.sseHistory.map(_.values.sum)
    totalSse.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-9) }
  }

  test("stage2: every dictionary word's idf is one formula; df=0 equals Spark's ln(N+1)+1") {
    // "zesty" is in the dictionary but in no document: the df=0 backfill
    val dict = Dict :+ "zesty"
    val s2 = Stages.stage2(s1, dict, k = 2, seed = 7L)
    val got = s2.idf.select($"word", $"df", $"idf").as[(String, Long, Double)].collect()
    assert(got.map(_._1).sorted.toSeq == dict.sorted)
    val zesty = got.find(_._1 == "zesty").get
    assert(zesty._2 == 0L)
    // the same doubles Spark's log computes for every observed word
    val viaSpark = Oracles.withIdf(got.map(r => (r._1, r._2)).toSeq.toDF("word", "df"), 4)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    got.foreach { case (w, df, idf) =>
      assert(java.lang.Double.doubleToRawLongBits(idf) ==
        java.lang.Double.doubleToRawLongBits(viaSpark(w)), s"idf($w)")
      assert(idf == Tfidf.idfOf(4, df))
    }
    assert(zesty._3 == StrictMath.log(4 + 1.0) + 1.0)
    // the unobserved word is a zero column of the dense vectors
    val j = s2.vocab.indexOf("zesty")
    assert(s2.vectors.as[(Long, Seq[Double])].collect().forall(_._2(j) == 0.0))
  }

  test("stage2 vectors: one array per doc over the sorted vocab == the exploded tfidf rows") {
    val s2 = Stages.stage2(s1, Dict, k = 2, seed = 7L)
    assert(s2.vocab == Dict.sorted)
    val vecs = s2.vectors.as[(Long, Seq[Double])].collect().toMap
    val rows = s2.tfidf.as[(Long, String, Double)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(vecs == rows)
    // centroids are drawn from the vectors, deterministically
    val again = Stages.stage2(s1, Dict, k = 2, seed = 7L).centroids
    assert(s2.centroids.map(c => c._1 -> c._2.toSeq).toMap == again.map(c => c._1 -> c._2.toSeq).toMap)
    s2.centroids.foreach { case (_, v) => assert(vecs.values.exists(_ == v.toSeq)) }
  }

  test("job counts: stage 2 and each Lloyd round run a pinned number of Spark jobs") {
    s1.count()
    val (s2, stage2Jobs) = countJobs(Stages.stage2(s1, Dict, k = 2, seed = 7L))
    // the doc count, the df table's map stage and collect, and the
    // centroid draw (seeded top-k sample, numbering, broadcast join)
    assert(stage2Jobs == Stage2Jobs, s"stage 2 ran $stage2Jobs jobs")
    val (res, stage3Jobs) = countJobs(Stages.stage3(s2, maxIter = 10))
    // one job caches the points, then one aggregation per round: its map
    // stage and its collect
    assert(stage3Jobs == 1 + JobsPerRound * res.iterations,
      s"stage 3 ran $stage3Jobs jobs over ${res.iterations} rounds")
    // the sinks read the vectors narrowly: one job each
    val (_, sinkJobs) = countJobs {
      s2.tfidf.collect(); s2.idf.collect(); res.assignments.collect()
    }
    assert(sinkJobs == 2, s"sinks ran $sinkJobs jobs")
  }
}
