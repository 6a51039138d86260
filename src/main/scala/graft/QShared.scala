package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ops._

/** Helpers shared by the per-domain query registries (QCore/QDedup1/
  * QDedup2/QSimText/QRelEvents/QCuration/QEmbed/QTail): tokenization
  * bases, DuckDB SQL fragments both sides of an oracle must agree on,
  * and the deterministic embedding fixtures.
  */
private[graft] object QShared {

  import Dictionaries.{Stopwords => Stop}

  /** documents → (doc_id, toks) after tokenize + stopword filter. */
  private[graft] def docsTokens(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenizeFiltered(col("text"), Stop, Nil).as("toks"))

  /** Integer-arithmetic quality score over a `toks` list column —
    * bit-identical to TextStats.qualityScore (see its scaladoc). */
  private[graft] val SqlQuality =
    """(CASE WHEN len(toks) = 0 THEN 0.3
      | ELSE (40 * len(list_distinct(toks))
      |      + 30 * (len(toks) - len(list_filter(toks, x -> x IN ('the', 'a'))))
      |      + 3 * least(list_sum(list_transform(toks, x -> length(x))), 10 * len(toks)))
      |      / (100.0 * len(toks)) END)""".stripMargin.replace("\n", "")

  /** DuckDB fragment mirroring [[docsTokens]] (RE2 regex, same semantics). */
  private[graft] val SqlToks =
    """SELECT doc_id, list_filter(regexp_extract_all(lower(text), '\b\w\w+\b'),
      | x -> x NOT IN ('the', 'a')) AS toks FROM documents""".stripMargin.replace("\n", "")

  /** (word, idf) over the corpus vocabulary, as a single declarative plan
    * (N joined in as a 1-row aggregate — no driver-side count). */
  private[graft] def vocabIdf(base: DataFrame): DataFrame = {
    val dfreq = Tfidf.docFreq(base, "doc_id", "toks")
    val n = base.agg(count(lit(1)).as("n"))
    dfreq.crossJoin(n)
      .withColumn("idf", log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))
      .select(col("word"), col("df"), col("idf"))
  }

  /** A `readStream` over table `table`'s files, read with the schema
    * [[Tables.table]] already resolved — the file source of every
    * streaming twin. FileStreamSource lists a DIRECTORY, so with
    * `files = 1` a single-file table is byte-copied into one and a
    * directory table is read in place; with `files > 1` the table is
    * rewritten as `repartition(files)` and read with
    * maxFilesPerTrigger=1, so the stream runs `files` real
    * micro-batches. A staged copy is written once per run
    * ([[ops.DfMemo.cachedPath]]: keyed on the table's file stamp, so a
    * table rewritten in place is staged again) and shared by every twin
    * and every bench pass. Only the immutable source is shared: sinks,
    * state and checkpoints stay per invocation ([[runToEnd]]).
    */
  private[graft] def tableStream(
      s: SparkSession, dir: String, table: String, files: Int = 1): DataFrame = {
    val t = Tables.table(s, dir, table)
    val src = new java.io.File(s"$dir/$table.parquet")
    val srcDir =
      if (files == 1 && src.isDirectory) src.toString
      else DfMemo.cachedPath(t, s"stream-src-$files") { d =>
        if (files == 1)
          java.nio.file.Files.copy(src.toPath,
            new java.io.File(d, src.getName).toPath): Unit
        else t.repartition(files).write.mode("overwrite").parquet(d)
      }
    val r = s.readStream.schema(t.schema)
    (if (files == 1) r else r.option("maxFilesPerTrigger", 1L)).parquet(srcDir)
  }

  /** Runs a streaming write to the end of its source: a fresh
    * [[Scratch]] checkpoint dir and the AvailableNow trigger, started
    * and awaited. The checkpoint is per invocation on purpose: a fresh
    * one makes each pass reprocess the whole source, so every run
    * exercises the full protocol under test (state, sink commits,
    * watermark and timeout semantics) — a reused checkpoint would see
    * no new files and run nothing.
    */
  private[graft] def runToEnd[T](writer: DataStreamWriter[T]): Unit =
    writer.option("checkpointLocation", Scratch.dir("stream-cp"))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The per-doc distinct word-3-shingle hash ARRAY (id, hs) —
    * run-scoped [[ops.DfMemo]] memo (r18 optimization round, guide
    * §2.4: share one materialization across consumers). SEVEN gated
    * entries re-derived the identical tokenize → shingle → xxhash64 →
    * array_distinct frame from the documents table per run
    * (q_ngram3_jaccard, q_ngram3_jaccard_capped, q_dedup_sim_hist,
    * q_containment_pairs, q_novelty, q_minhash_pairs, q_cross_dedup)
    * plus the dedupPairs3 substrate below — each previously paying its
    * own localCheckpoint of the same rows. Billed as
    * `substrate:shingles3`.
    */
  private[graft] def shingles3Arrays(s: SparkSession, dir: String): DataFrame = {
    val toks = docsTokens(s, dir)
    DfMemo.cached(toks, "shingles3:k=3") {
      toks.select(col("doc_id").as("id"),
        array_distinct(transform(Dedup.tokenShingles(col("toks"), 3),
          x => xxhash64(x))).as("hs"))
    }
  }

  /** [[shingles3Arrays]] exploded to the element form (id, h) every
    * pair/posting consumer joins on — the explode is map-side off the
    * persisted array frame, so each consumer pays one cheap scan of
    * the memo, never the shingling. */
  private[graft] def shingles3(s: SparkSession, dir: String): DataFrame =
    shingles3Arrays(s, dir).select(col("id"), explode(col("hs")).as("h"))

  /** Verified 3-shingle Jaccard ≥ 0.5 near-dup PAIRS (id1, id2,
    * jaccard) — the pair substrate under [[dedupClusters3]], memoized
    * separately so q_edit_pairs' levenshtein verify can ride the same
    * kernel instead of re-running pair generation. */
  private[graft] def dedupPairs3(s: SparkSession, dir: String): DataFrame = {
    val toks = docsTokens(s, dir)
    val e = shingles3(s, dir)
    DfMemo.cached(toks, "dedupPairs3:k=3:thr=0.5") {
      Dedup.jaccardPairsPrefix(e, 0.5)
    }
  }

  /** Near-dup cluster map (id → rep) over the 3-shingle Jaccard ≥ 0.5
    * pair graph, prefix-filtered + union-find clustered — the derivation
    * q_dedup_clusters, q_dedup_canonical and q_dedup_best all consume.
    * Run-scoped [[graft.ops.DfMemo]] memo keyed on the documents table:
    * the pair-gen + CC funnel (the suite's most expensive substrate)
    * runs once per JVM instead of three times. */
  private[graft] def dedupClusters3(s: SparkSession, dir: String): DataFrame = {
    val toks = docsTokens(s, dir)
    val pairs = dedupPairs3(s, dir)
    DfMemo.cached(toks, "dedupClusters3:k=3:thr=0.5") {
      Dedup.dedupClusters(pairs)
    }
  }

  /** embeddings with float vectors cast to double (IEEE parity with the oracle). */
  private[graft] def embDouble(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), KMeansOps.asDouble(col("embedding")).as("v"))

  /** embeddings ∪ a perturbed copy of each (vec_id + 1e6, dims scaled by
    * exact-double factors 0.98/0.99/1.00 cycling by dim index). The
    * synthetic embeddings have no high-cosine pairs (max ≈ 0.6), so this
    * plants exactly one ≈0.999-cosine partner per vector — the near-dup
    * regime LSH is built for — with arithmetic both engines reproduce
    * bit-exactly. */
  private[graft] def perturbedEmb(s: SparkSession, dir: String): DataFrame = {
    val base = embDouble(s, dir)
    base.unionByName(base.select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("v"),
        (x, i) => x * (lit(0.98) + lit(0.01) * (i % 3).cast("double"))).as("v")))
  }

  /** Deterministic k=8 "initial centroids": the vectors with vec_id < 8 —
    * SQL-expressible on both sides (the seeded-random init is exercised by
    * the lloyd() loop + scalatest, not the oracle). */
  private[graft] def fixedCentroids(pts: DataFrame): DataFrame =
    pts.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("v").as("cvec"))

  /** Same deterministic routing table as a sorted driver array — the
    * knnSelfJoin/knnSelfRecall cell-table form (8 × d doubles). */
  private[graft] def fixedCentroidArr(s: SparkSession, dir: String): Array[(Long, Array[Double])] =
    embDouble(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long"), col("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)

  /** Shared oracle CTE chain mirroring [[Similarity.knnSelfJoin]] with
    * the fixed vec_id<8 routing table at k=5/nprobe=5 — the cell-routed
    * APPROXIMATE 5-NN edge list the graph queries (q_pagerank,
    * q_label_prop) consume, ported from the proven q_knn_approx oracle
    * (VERDICT r10 #1). Ends in `g(src, dst)`. CTE names are chosen not
    * to collide with the PageRank/label-prop chains appended after it
    * (nodes/nn/od/r0-r3/c1-c3, l0-l2/v1-v2/b1-b2). Zero-norm vectors
    * are excluded from routing on both engines (WHERE nrm > 0 here,
    * the cellMatches filter in Spark) — cos would be NULL-vs-NaN
    * divergent on such rows (ADVICE r10).
    */
  private[graft] lazy val SqlCellEdges =
    """ve AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |             FROM embeddings),
      |nrm AS MATERIALIZED (SELECT vec_id, sqrt(list_inner_product(v, v)) AS nrm
      |             FROM ve),
      |ad AS MATERIALIZED (SELECT e.vec_id, c.vec_id AS cid,
      |         list_distance(e.v, c.v) AS dist
      |       FROM ve e JOIN nrm z ON z.vec_id = e.vec_id AND z.nrm > 0
      |       CROSS JOIN (SELECT vec_id, v FROM ve WHERE vec_id < 8) c),
      |home AS (SELECT vec_id, cid AS cell FROM ad
      |         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
      |probe AS (SELECT vec_id AS qid, cid AS cell FROM ad
      |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) <= 5),
      |m AS (SELECT q.qid AS a, h.vec_id AS b FROM probe q
      |      JOIN home h ON h.cell = q.cell AND h.vec_id <> q.qid),
      |cand AS (SELECT a AS qid, b AS nbr FROM m UNION SELECT b, a FROM m),
      |dpc AS (SELECT cand.qid, cand.nbr, list_inner_product(a.v, b.v) AS dp
      |      FROM cand JOIN ve a ON a.vec_id = cand.qid
      |                JOIN ve b ON b.vec_id = cand.nbr),
      |csc AS (SELECT qid, nbr, round(dp / (nq.nrm * nv.nrm), 4) + 0.0 AS cos
      |       FROM dpc JOIN nrm nq ON nq.vec_id = qid JOIN nrm nv ON nv.vec_id = nbr),
      |g AS (SELECT qid AS src, nbr AS dst FROM (SELECT qid, nbr,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rnk
      |      FROM csc) WHERE rnk <= 5)""".stripMargin

  /** Shared oracle CTE: exploded Euclidean distances + per-point argmin rank.
    * (lazy: referenced from `all`, which is declared above — a strict val
    * here would still be null during `all`'s initialization.) */
  private[graft] lazy val SqlKmeansAssign =
    """WITH pts AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |             unnest(range(0, len(embedding))) AS i FROM embeddings),
      |cents AS (SELECT vec_id AS cid, CAST(unnest(embedding) AS DOUBLE) AS c,
      |          unnest(range(0, len(embedding))) AS i FROM embeddings WHERE vec_id < 8),
      |d AS (SELECT p.vec_id, c.cid, sqrt(sum((p.x - c.c) * (p.x - c.c))) AS dist
      |      FROM pts p JOIN cents c ON p.i = c.i GROUP BY p.vec_id, c.cid),
      |a AS (SELECT vec_id, cid, dist,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d)""".stripMargin
}
