package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.IdOps

class IdOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sequentialIdsAtScale == sequentialIds (window) — same bijection 1..N") {
    val customer = Tables.table(spark, TestSpark.Sf, "customer")
    val order = Seq("c_name", "c_custkey")
    val a = Oracles.sequentialIds(customer, order, "id")
      .select($"c_custkey", $"id").as[(Long, Long)].collect().toMap
    val b = IdOps.sequentialIdsAtScale(customer, order, "id")
      .select($"c_custkey", $"id").as[(Long, Long)].collect().toMap
    assert(a == b)
    val ids = a.values.toSeq.sorted
    assert(ids == (1L to a.size.toLong))
  }

  test("shuffleDeterministic: a salt-keyed bijection 1..N, stable across partitionings, epoch-sensitive") {
    val docs = Tables.table(spark, TestSpark.Sf, "documents").select($"doc_id")
    val a = IdOps.shuffleDeterministic(docs, "doc_id", salt = "e1")
      .select($"doc_id", $"pos").as[(Long, Long)].collect().toMap
    assert(a.values.toSeq.sorted == (1L to a.size.toLong), "dense 1..N positions")
    val b = IdOps.shuffleDeterministic(docs.repartition(7), "doc_id", salt = "e1")
      .select($"doc_id", $"pos").as[(Long, Long)].collect().toMap
    assert(a == b, "order is a pure function of (salt, key), not of partitioning")
    val c = IdOps.shuffleDeterministic(docs, "doc_id", salt = "e2")
      .select($"doc_id", $"pos").as[(Long, Long)].collect().toMap
    assert(a != c, "a different epoch salt must permute differently")
    // matches the driver-side md5 ranking exactly
    val exp = a.keys.toSeq
      .map { id =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"e1_$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
        (d, id)
      }.sorted.zipWithIndex.map { case ((_, id), i) => id -> (i + 1L) }.toMap
    assert(a == exp)
  }

  test("sampleK: deterministic for a seed, k rows, dense 0..k-1 index") {
    val customer = Tables.table(spark, TestSpark.Sf, "customer")
    val s1 = IdOps.sampleK(customer, 10, 42L).select($"idx", $"c_custkey")
      .as[(Int, Long)].collect().sorted.toSeq
    val s2 = IdOps.sampleK(customer, 10, 42L).select($"idx", $"c_custkey")
      .as[(Int, Long)].collect().sorted.toSeq
    assert(s1 == s2)
    assert(s1.map(_._1) == (0 until 10))
    assert(s1.map(_._2).distinct.size == 10)
  }

  test("stratifiedSampleByHash: rate 1 keeps all, rate 0 keeps none, unknown strata get defaultRate") {
    val docs = Tables.table(spark, TestSpark.Sf, "documents")
    val got = IdOps.stratifiedSampleByHash(docs, "doc_id", "source",
        rates = Map("src0" -> 1.0, "src1" -> 0.0), salt = "t")
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    val all = docs.groupBy($"source").count().as[(String, Long)].collect().toMap
    assert(got("src0") == all("src0"), "rate 1.0 must keep the whole stratum")
    assert(!got.contains("src1"), "rate 0.0 must drop the whole stratum")
    assert(got.keySet == Set("src0"), "strata not in rates must fall to defaultRate=0")
    // deterministic: same inputs → same sample
    val a = IdOps.stratifiedSampleByHash(docs, "doc_id", "source",
      rates = Map("src2" -> 0.5), salt = "t").select($"doc_id").as[Long].collect().toSet
    val b = IdOps.stratifiedSampleByHash(docs, "doc_id", "source",
      rates = Map("src2" -> 0.5), salt = "t").select($"doc_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("temperatureSample keeps the rarest stratum whole, downsamples the dominant") {
    // heavy: 900 rows of weight 10; rare: 100 rows of weight 1.
    // T=2 → q ∝ √p pulls shares toward uniform, so `rare` keeps rate 1
    // (it is the most under-represented) and `heavy` drops a chunk.
    val rows = (1L to 900L).map(i => (i, "heavy", 10.0)) ++
      (901L to 1000L).map(i => (i, "rare", 1.0))
    val df = rows.toDF("id", "src", "w")
    val kept = IdOps.temperatureSample(df, "id", "src", "w",
        temperature = 2.0, salt = "s")
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(kept("rare") == 100L, s"rare stratum must be kept whole: $kept")
    assert(kept("heavy") < 900L && kept("heavy") > 0L, s"heavy must downsample: $kept")
    // expected heavy rate: (q/p)/(max q/p) with p=9000/9100, q=√p-normalized
    val (ph, pr) = (9000.0 / 9100.0, 100.0 / 9100.0)
    val (qh, qr) = (math.sqrt(ph), math.sqrt(pr))
    val rate = (qh / ph) / (qr / pr)
    val expected = math.floor(rate * 256 + 1e-9) / 256.0
    assert(math.abs(kept("heavy").toDouble / 900.0 - expected) < 0.08,
      s"heavy keep fraction ${kept("heavy") / 900.0} vs expected ~$expected")
    // deterministic under the same salt
    val again = IdOps.temperatureSample(df, "id", "src", "w", 2.0, "s")
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(again == kept)
  }

  test("sampleToTokenBudget == independent largest-remainder reimplementation (exact kept set); budget property holds") {
    // strata A/B/C by id%3 with varied weights; mixture gives C more than
    // its supply (cap → keep-all) and leaves stratum absent entirely via
    // rows with src "D" (dropped). Exact-set check against a from-scratch
    // driver-side reimplementation — thresholds, tie-breaks and the
    // md5-prefix keep rule all re-derived independently.
    val rows = (0L until 900L).map { id =>
      val src =
        if (id % 9 == 8) "D"
        else if (id % 3 == 2) { if (id < 30) "C" else "A" }  // C supply ≈ 27 tokens < its 60-token allocation → capped
        else if (id % 3 == 0) "A" else "B"
      (id, src, (id % 7 + 1).toDouble)
    }
    val df = rows.toDF("id", "src", "w")
    val budget = 600L
    val mix = Map("A" -> 0.45, "B" -> 0.45, "C" -> 0.10)
    val got = IdOps.sampleToTokenBudget(df, "id", "src", "w", budget, mix, salt = "tb")
      .select($"id").as[Long].collect().toSet

    // --- independent reimplementation ---
    val w = rows.filter(r => mix.contains(r._2)).groupBy(_._2)
      .map { case (s, rs) => s -> rs.map(_._3).sum }
    val rate = w.map { case (s, ws) => s -> math.min(budget.toDouble * mix(s) / ws, 1.0) }
    val t0 = rate.map { case (s, r) => s -> math.floor(r * 256 + 1e-9).toLong }
    val frac = rate.map { case (s, r) => s -> (r * 256 - t0(s)) }
    val deficit = budget.toDouble - w.keys.toSeq.map(s => w(s) * t0(s) / 256.0).sum
    val order = w.keys.toSeq.sortBy(s => (-frac(s), s))
    var cum = 0.0
    val t = order.map { s =>
      val bump = frac(s) > 1e-12 && cum < deficit - 1e-9
      if (frac(s) > 1e-12) cum += w(s) / 256.0
      s -> (if (bump) t0(s) + 1 else t0(s))
    }.toMap
    val thr = t.map { case (s, tv) => s -> (if (tv >= 256) "zz" else f"$tv%02x") }
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex2(key: String): String =
      md.digest(s"tb_$key".getBytes("UTF-8")).take(1).map(b => f"$b%02x").mkString
    val expect = rows.filter(r => mix.contains(r._2) && hex2(r._1.toString) < thr(r._2))
      .map(_._1).toSet
    assert(got == expect)
    assert(!got.exists(id => rows(id.toInt)._2 == "D"), "absent strata must be dropped")
    // cap: C's 60-token allocation exceeds its ~27-token supply → keep-all
    assert(thr("C") == "zz", s"fixture should cap stratum C, thresholds=$thr")
    assert(rows.filter(_._2 == "C").map(_._1).toSet.subsetOf(got))
    // largest-remainder budget property: each stratum's expected kept
    // tokens sit within one 1/256 step of its min(B·m_s, w_s) target, so
    // the total lands within Σ_s w_s/256 of the achievable budget
    val expTok = w.keys.toSeq.map(s => w(s) * math.min(t(s), 256L) / 256.0).sum
    val achievable = w.keys.toSeq.map(s => math.min(budget * mix(s), w(s))).sum
    assert(math.abs(expTok - achievable) <= w.values.sum / 256.0 + 1e-6,
      s"expected tokens $expTok vs achievable $achievable (budget $budget)")
  }
}
