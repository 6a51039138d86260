package graft

import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.Sinks

import graft.SparkEntry.Q
import graft.QShared._

/** Query registry — M1-M5: reference pipeline decomposition + relational surface.
  * Split out of SparkEntry (VERDICT r9 #6); see SparkEntry for the
  * driver contract that concatenates the registries.
  */
private[graft] object QCore {
  import Dictionaries.{Stopwords => Stop}

  def qs: Seq[Q] = Seq(

    // ---- M1: tokenization + document frequency + IDF (SURVEY §2.5 C1-C6, §2.4 A2-A3)
    Q("q_tokens",
      (s, dir) => docsTokens(s, dir)
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos"),
      Some(s"""WITH t AS ($SqlToks)
        |SELECT doc_id, CAST(unnest(range(0, len(toks))) AS INT) AS pos,
        |       unnest(toks) AS token
        |FROM t ORDER BY doc_id, pos""".stripMargin)),

    Q("q_tokens_dict",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenizeFiltered(col("text"), Stop, Dictionaries.Adjectives).as("toks"))
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "token")))
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (SELECT doc_id,
        | list_filter(regexp_extract_all(lower(text), '\b\w\w+\b'),
        |   x -> x NOT IN ('the', 'a') AND x IN ('fast', 'slow', 'small', 'big')) AS toks
        | FROM documents)
        |SELECT doc_id, CAST(unnest(range(0, len(toks))) AS INT) AS pos,
        |       unnest(toks) AS token
        |FROM t ORDER BY doc_id, pos""".stripMargin)),

    Q("q_docfreq",
      (s, dir) => Tfidf.docFreq(docsTokens(s, dir), "doc_id", "toks").orderBy("word"),
      Some(s"""WITH t AS ($SqlToks)
        |SELECT word, count(*) AS df
        |FROM (SELECT doc_id, unnest(list_distinct(toks)) AS word FROM t)
        |GROUP BY word ORDER BY word""".stripMargin)),

    Q("q_idf",
      (s, dir) => vocabIdf(docsTokens(s, dir))
        .withColumn("idf", round(col("idf"), 6))
        .orderBy("word"),
      Some(s"""WITH t AS ($SqlToks),
        |d AS (SELECT word, count(*) AS df
        |      FROM (SELECT doc_id, unnest(list_distinct(toks)) AS word FROM t) GROUP BY word),
        |n AS (SELECT count(*) AS n FROM t)
        |SELECT word, df, round(ln((n + 1.0) / (df + 1.0)) + 1.0, 6) AS idf
        |FROM d, n ORDER BY word""".stripMargin)),

    // ---- M2: term frequency + L2-normalized TF-IDF (SURVEY §2.4 A4, §2.5 C7-C14)
    Q("q_tf",
      (s, dir) => Tfidf.termCounts(docsTokens(s, dir), "doc_id", "toks")
        .withColumn("tf",
          round(when(col("len") === 0, lit(0.0)).otherwise(col("cnt") / col("len")), 6))
        .select(col("doc_id"), col("word"), col("cnt"), col("tf"))
        .orderBy("doc_id", "word"),
      Some(s"""WITH t AS ($SqlToks),
        |e AS (SELECT doc_id, len(toks) AS len, unnest(toks) AS word FROM t)
        |SELECT doc_id, word, count(*) AS cnt,
        |       round(CASE WHEN max(len) = 0 THEN 0.0
        |             ELSE CAST(count(*) AS DOUBLE) / max(len) END, 6) AS tf
        |FROM e GROUP BY doc_id, word ORDER BY doc_id, word""".stripMargin)),

    Q("q_tfidf",
      (s, dir) => {
        val base = docsTokens(s, dir)
        Tfidf.tfidfVectors(base, "doc_id", "toks",
            vocabIdf(base).select("word", "idf"), scale = 6, dense = true)
          .orderBy("doc_id", "word")
      },
      Some(s"""WITH t AS ($SqlToks),
        |b AS (SELECT doc_id, toks, len(toks) AS len FROM t),
        |counts AS (SELECT doc_id, word, count(*) AS cnt
        |           FROM (SELECT doc_id, unnest(toks) AS word FROM b) GROUP BY doc_id, word),
        |dfreq AS (SELECT word, count(*) AS df
        |          FROM (SELECT doc_id, unnest(list_distinct(toks)) AS word FROM b) GROUP BY word),
        |n AS (SELECT count(*) AS n FROM b),
        |vocab AS (SELECT word, ln((n + 1.0) / (df + 1.0)) + 1.0 AS idf FROM dfreq, n),
        |dense AS (SELECT d.doc_id, d.len, v.word, v.idf, COALESCE(c.cnt, 0) AS cnt
        |          FROM (SELECT doc_id, len FROM b) d
        |          CROSS JOIN vocab v
        |          LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.word = v.word),
        |w AS (SELECT doc_id, word,
        |        (CASE WHEN len = 0 THEN 0.0 ELSE CAST(cnt AS DOUBLE) / len END) * idf AS w
        |      FROM dense),
        |norms AS (SELECT doc_id, word, w,
        |            sqrt(sum(w * w) OVER (PARTITION BY doc_id)) AS nrm FROM w)
        |SELECT doc_id, word,
        |       round(CASE WHEN nrm = 0 THEN 0.0 ELSE w / nrm END, 6) AS weight
        |FROM norms ORDER BY doc_id, word""".stripMargin)),

    // ---- M3: stage-1 parity — global sort + sequential IDs, count-N, JSON field extract
    //      (SURVEY §2.6 O1-O2, §2.4 A1, §2.5 C1)
    Q("q_seq_ids",  // at-scale form: range-repartition + per-partition
      // offsets — no single-partition WindowExec (PlanAuditSpec asserts);
      // parity with the window form is IdOpsSpec-tested
      (s, dir) => IdOps.sequentialIdsAtScale(
          Tables.table(s, dir, "customer"), Seq("c_name", "c_custkey"), "id")
        .select(col("c_custkey"), col("id"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, row_number() OVER (ORDER BY c_name, c_custkey) AS id
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    Q("q_count_n",
      (s, dir) => Tables.table(s, dir, "documents").agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM documents")),

    Q("q_json_extract",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k").isNotNull)
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |ORDER BY event_id""".stripMargin)),

    Q("q_sample_k",  // seeded sample via keyed-hash permutation (md5) — unlike
      (s, dir) =>     // rand(seed), both engines reproduce it → fully oracled
        IdOps.sampleKByHash(Tables.table(s, dir, "customer"), "c_custkey", 10, salt = "42")
          .select(col("idx"), col("c_custkey"))
          .orderBy("idx"),
      Some("""SELECT CAST(row_number() OVER w - 1 AS INT) AS idx, c_custkey
        |FROM customer
        |WINDOW w AS (ORDER BY md5('42_' || CAST(c_custkey AS VARCHAR)), c_custkey)
        |QUALIFY row_number() OVER w <= 10
        |ORDER BY idx""".stripMargin)),

    // ---- M4: K-Means — one Lloyd iteration decomposed (SURVEY §3.3, §2.3 J3, §2.6 O4, §2.4 A5-A7)
    Q("q_kmeans_assign",
      (s, dir) => {
        val pts = embDouble(s, dir)
        KMeansOps.assign(pts, "vec_id", "v", fixedCentroids(pts))
          .select(col("vec_id"), col("cluster"), round(col("dist"), 6).as("dist"))
          .orderBy("vec_id")
      },
      Some(s"""$SqlKmeansAssign
        |SELECT vec_id, cid AS cluster, round(dist, 6) AS dist
        |FROM a WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    Q("q_kmeans_centroids",
      (s, dir) => {
        val pts = embDouble(s, dir)
        KMeansOps.newCentroids(
            KMeansOps.assign(pts, "vec_id", "v", fixedCentroids(pts)), "v", scale = 6)
          .orderBy("cluster", "dim")
      },
      Some(s"""$SqlKmeansAssign,
        |asg AS (SELECT vec_id, cid AS cluster FROM a WHERE rn = 1),
        |ex AS (SELECT g.cluster, CAST(unnest(e.embedding) AS DOUBLE) AS x,
        |              CAST(unnest(range(0, len(e.embedding))) AS INT) AS dim
        |       FROM asg g JOIN embeddings e ON e.vec_id = g.vec_id)
        |SELECT cluster, dim, round(avg(x), 6) + 0.0 AS c
        |FROM ex GROUP BY cluster, dim ORDER BY cluster, dim""".stripMargin)),

    Q("q_kmeans_sse",
      (s, dir) => {
        val pts = embDouble(s, dir)
        KMeansOps.sse(KMeansOps.assign(pts, "vec_id", "v", fixedCentroids(pts)))
          .select(col("cluster"), round(col("sse"), 3).as("sse"), col("n"))
          .orderBy("cluster")
      },
      Some(s"""$SqlKmeansAssign
        |SELECT cid AS cluster, round(sum(dist * dist), 3) AS sse, count(*) AS n
        |FROM a WHERE rn = 1 GROUP BY cid ORDER BY cluster""".stripMargin)),

    Q("q_kmeans_iter2",  // TWO unrolled Lloyd iterations in one plan: assign →
      // recompute → REASSIGN to the recomputed centroids → recompute again.
      // This value-oracles the centroid-update→reassignment COMPOSITION (the
      // heart of the reference's loop, App.java:122-145) — q_kmeans_* cover
      // one iteration; the multi-iteration lloyd() loop is the same driver
      // hop repeated (spec-covered). Centroids are rounded to 6 dp between
      // iterations (the reference's HALF_UP inter-iteration rounding, scale
      // lowered so both engines agree on the rounded doubles).
      (s, dir) => {
        val pts = embDouble(s, dir)
        val a1 = KMeansOps.assign(pts, "vec_id", "v", fixedCentroids(pts))
        val c1 = KMeansOps.newCentroids(a1, "v", scale = 6)
          .groupBy(col("cluster").as("cid"))
          .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("s"))
          .select(col("cid"), transform(col("s"), x => x.getField("c")).as("cvec"))
        val a2 = KMeansOps.assign(pts, "vec_id", "v", c1)
        KMeansOps.newCentroids(a2, "v", scale = 6)
          .orderBy("cluster", "dim")
      },
      Some(s"""$SqlKmeansAssign,
        |asg1 AS (SELECT vec_id, cid AS cluster FROM a WHERE rn = 1),
        |c1 AS (SELECT g.cluster, p.i AS dim, round(avg(p.x), 6) AS c
        |       FROM asg1 g JOIN pts p ON p.vec_id = g.vec_id
        |       GROUP BY g.cluster, p.i),
        |d2 AS (SELECT p.vec_id, c1.cluster AS cid,
        |              sqrt(sum((p.x - c1.c) * (p.x - c1.c))) AS dist
        |       FROM pts p JOIN c1 ON p.i = c1.dim GROUP BY p.vec_id, c1.cluster),
        |a2 AS (SELECT vec_id, cid, dist,
        |       row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d2),
        |asg2 AS (SELECT vec_id, cid AS cluster FROM a2 WHERE rn = 1),
        |c2 AS (SELECT g.cluster, CAST(p.i AS INT) AS dim,
        |        round(avg(p.x), 6) + 0.0 AS c
        |       FROM asg2 g JOIN pts p ON p.vec_id = g.vec_id GROUP BY g.cluster, p.i)
        |SELECT cluster, dim, c FROM c2 ORDER BY cluster, dim""".stripMargin), iterative = true),

    // ---- M5: relational surface — hash agg, broadcast/semi/anti/multi joins,
    //      top-k, union, rollup, event-time windows (SURVEY §2.3, §2.4, §2.6, §2.7, §2.8)
    Q("q_agg_lineitem",  // TPC-H Q1 shape: partial-agg-friendly hash aggregation
      (s, dir) => Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q_join_broadcast",  // small dim broadcast-joined to fact — no fact shuffle
      (s, dir) => Tables.table(s, dir, "orders")
        .join(broadcast(Tables.table(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("q_join_multi",  // TPC-H Q5 shape: fact ⋈ chain of broadcast dims
      (s, dir) => {
        val li = Tables.table(s, dir, "lineitem")
        val o = Tables.table(s, dir, "orders")
        val c = Tables.table(s, dir, "customer")
        val n = Tables.table(s, dir, "nation")
        val r = Tables.table(s, dir, "region")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    Q("q_semi_join",  // EXISTS: customers having at least one high-value order
      (s, dir) => Tables.table(s, dir, "customer")
        .join(Tables.table(s, dir, "orders").filter(col("o_totalprice") > 100000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin)),

    Q("q_anti_join",  // NOT EXISTS: customers with no very-large order
      (s, dir) => Tables.table(s, dir, "customer")
        .join(Tables.table(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)),

    Q("q_bucket_join",  // co-located join: both sides bucket-pre-hashed and
      (s, dir) => {      // sorted on the key → SMJ with ZERO Exchange below it
        val sfx = dir.replaceAll("[^0-9A-Za-z]", "_")
        Sinks.writeBucketed(
          Tables.table(s, dir, "orders").select(col("o_custkey").as("custkey"),
            col("o_orderkey"), col("o_totalprice")),
          s"orders_bkt$sfx", 8, Seq("custkey"))
        Sinks.writeBucketed(
          Tables.table(s, dir, "customer").select(col("c_custkey").as("custkey"),
            col("c_mktsegment")),
          s"customer_bkt$sfx", 8, Seq("custkey"))
        // merge hint pins SMJ so the bucketed (shuffle-free, sort-free)
        // join is what runs even when one side would auto-broadcast —
        // this is the 100 TB fact-to-fact join shape; plan audited in
        // PartitioningSpec
        s.table(s"orders_bkt$sfx")
          .hint("merge")
          .join(s.table(s"customer_bkt$sfx"), "custkey")
          .select(col("o_orderkey"), col("custkey"), col("c_mktsegment"),
            round(col("o_totalprice"), 2).as("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey AS custkey, c_mktsegment,
        |  round(o_totalprice, 2) AS o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    Q("q_topk",  // global top-k: TakeOrderedAndProject, no full sort
      (s, dir) => Tables.table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice")),
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    Q("q_union_distinct",
      (s, dir) => Tables.table(s, dir, "region").select(col("r_name").as("name"))
        .union(Tables.table(s, dir, "nation").select(col("n_name")))
        .distinct()
        .orderBy("name"),
      Some("""SELECT r_name AS name FROM region UNION SELECT n_name FROM nation
        |ORDER BY name""".stripMargin)),

    Q("q_count_distinct",
      (s, dir) => Tables.table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Q("q_rollup",
      (s, dir) => Tables.table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    Q("q_window_hourly",  // tumbling event-time window as batch (SURVEY §2.9)
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(unix_timestamp(col("w.start")).as("hour_epoch"), col("event_type"),
          col("n"), col("total"))
        .orderBy("hour_epoch", "event_type"),
      Some("""SELECT epoch_ns(date_trunc('hour', ts)) // 1000000000 AS hour_epoch,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin)),

    Q("q_window_rank",  // per-user event ordering: row_number window
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables.events(s, dir)
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))))
          .select(col("user_id"), col("event_id"), col("rn"))
          .orderBy("user_id", "rn")
      },
      Some("""SELECT user_id, event_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn
        |FROM events ORDER BY user_id, rn""".stripMargin)),

    Q("q_running_sum",  // frame-spec window: running total per user
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .withColumn("running", round(sum(col("value")).over(w), 2))
          .select(col("user_id"), col("event_id"), col("running"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin))
  )
}
