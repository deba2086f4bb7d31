package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Invariant checks for the Group C/D pipeline operators against the
  * sf0.001 testdata (the oracle-differential check at sf0.01 is the
  * correctness gate; these pin structural invariants cheaply).
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("c1 exact dedup keeps one row per distinct text, smallest doc_id") {
    val docs = Tables(spark, sf, "documents")
    val out = GroupC.c1DedupExact(spark, sf)
    assert(out.count() == docs.select("text").distinct().count())
    assert(out.select("doc_id").distinct().count() == out.count())
  }

  test("c2 near-dup pairs are ordered, above threshold, and within [0,1]") {
    val rows = GroupC.c2DedupNear(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall { r =>
      val j = r.getDouble(2); j >= 0.6 && j <= 1.0
    })
  }

  test("d1 MinHash+LSH verified pairs equal c2's exact pairs") {
    val exact = GroupC.c2DedupNear(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = GroupD.d1DedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("d2 simhash pairs respect the Hamming threshold and ordering") {
    val rows = GroupD.d2DedupSimhash(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 3))
  }

  test("c3 top-k: the query vector ranks itself first with sim 1.0") {
    val rows = GroupC.c3SimilarityTopk(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.head.getLong(0) == 0L)
    assert(rows.head.getDouble(2) == 1.0)
    val sims = rows.map(_.getDouble(2)).toSeq
    assert(sims == sims.sorted.reverse) // non-increasing
  }

  test("d3 knn join returns 5 ranked neighbors per query, none itself") {
    val rows = GroupD.d3KnnJoin(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 50L).toSet)
    assert(byQ.values.forall(_.length == 5))
    assert(rows.forall(r => r.getLong(1) != r.getLong(0)))
  }

  test("d4 ANN: every reported neighbor's sim matches the exact cosine rank direction") {
    val rows = GroupD.d4AnnLsh(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("d4 ANN top-1 recall vs d3's exact top-1 is >= 0.9 (sf0.01, measured 0.96)") {
    val sf01 = "/root/testdata/sf0.01"
    val exact = GroupD.d3KnnJoin(spark, sf01)
      .filter(org.apache.spark.sql.functions.col("rn") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ann = GroupD.d4AnnLsh(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    val hits = exact.count { case (q, nn) => ann.get(q).contains(nn) }
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.9, s"d4 top-1 recall $recall < 0.9 (hits $hits/${exact.size})")
  }

  test("d4's tuned config makes the candidate fraction VISIBLE and recall-bound (sf0.01)") {
    // Round-3 verdict #1: the ~0.72 candidate fraction at the declared
    // recall target was implicit. The tuner now measures it: on this
    // weakly-correlated corpus the recall pin (>= 0.9) binds, the budget
    // (0.25) is unreachable, and the chosen config's fraction is the
    // corpus's measured price — pinned here so a corpus/regression that
    // CAN meet the budget (or degrades further) changes a visible number.
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01"
    val e = Tables(spark, sf01, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val stats = graft.operators.AnnTuning.lshStats(
      graft.operators.AnnTuning.sampleVectors(e, 500))
    val picked = graft.operators.AnnTuning.choose(stats, 0.9, 0.25)
    info(s"ladder: ${stats.map(s => f"${s.config}->(${s.candidateFraction}%.3f,${s.estRecall}%.2f)").mkString(", ")}")
    info(f"chosen ${picked.config} fraction=${picked.candidateFraction}%.3f recall=${picked.estRecall}%.3f")
    assert(picked.estRecall >= 0.9, s"tuned config misses the recall pin: $picked")
    // the measured price on THIS corpus: quasi-quadratic, known, visible.
    // The fraction is a WORK metric (directed candidate incidences per
    // ordered pair — can exceed 1 when tables·(1+probes) > 2^bits); since
    // the multiprobe rungs (round 12) the winner at sf0.01 is 16×5×1 at
    // ~1.06, below plain 20×4's 1.29 — the multiprobe economy, measured
    assert(picked.candidateFraction > 0.6 && picked.candidateFraction < 1.25,
      s"candidate fraction moved materially: $picked — retune the ladder or update this pin")
    // every finer config on the ladder fails the recall target here —
    // the tuner is not leaving a cheaper compliant config on the table
    assert(stats.filter(_.candidateFraction < picked.candidateFraction)
      .forall(_.estRecall < 0.9))
    // and the winner undercuts the best PLAIN-banding config meeting the
    // target: the probes pay for themselves on this corpus
    val plainBest = stats.filter(s => s.config.probes == 0 && s.estRecall >= 0.9)
    assert(plainBest.nonEmpty &&
      picked.candidateFraction <= plainBest.map(_.candidateFraction).min,
      "multiprobe no longer undercuts plain banding — drop the rungs or retune")
  }

  test("tuned LSH meets BOTH recall >= 0.9 AND the candidate budget on a clustered corpus") {
    // The verdict's Done-criterion: in the near-dup regime (where LSH is
    // the right tool) the tuner must find a config that prunes AND recalls.
    val rnd = new scala.util.Random(777)
    val dim = 64
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = (0 until 40).flatMap { c =>
      val base = unit(Array.fill(dim)(rnd.nextGaussian()))
      (0 until 5).map(m =>
        (c * 5L + m, unit(base.map(_ + 0.025 * rnd.nextGaussian()))))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "v")
    val stats = graft.operators.AnnTuning.lshStats(df)
    val picked = graft.operators.AnnTuning.choose(stats, 0.9, 0.25)
    info(f"clustered chosen ${picked.config} fraction=${picked.candidateFraction}%.3f recall=${picked.estRecall}%.3f")
    assert(picked.estRecall >= 0.9, s"clustered recall miss: $picked")
    assert(picked.candidateFraction <= 0.25, s"clustered budget miss: $picked")
    // and the full operator at the tuned config actually achieves the
    // recall against driver-side brute force — probes included, so a
    // multiprobe winner is validated on the path production runs
    val out = GroupD.annLsh(df, picked.config.tables, picked.config.bits,
      graft.operators.AnnTuning.DefaultBucketCap,
      probes = picked.config.probes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val exact = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .maxBy { case (oid, ov) => (cos(ov, v), -oid.toDouble) }._1
    }.toMap
    val hits = exact.count { case (q, nn) => out.get(q).contains(nn) }
    assert(hits.toDouble / exact.size >= 0.9,
      s"operator recall ${hits}/${exact.size} below the tuned estimate")
  }

  test("the big-bucket cap bounds index fan-out and keeps every query answered") {
    import org.apache.spark.sql.functions._
    // adversarial skew: 200 near-identical vectors — every bucket of every
    // table contains essentially ALL of them
    val rnd = new scala.util.Random(99)
    val dim = 64
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val base = unit(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 200).map(i =>
      (i.toLong, unit(base.map(_ + 0.01 * rnd.nextGaussian()))))
    val df = spark.createDataFrame(vecs).toDF("vec_id", "v")
    val keyed = df.select(col("vec_id"), posexplode(
      graft.functions.GraftFunctions.lshKeys(col("v"), 4, 4))
      .as(Seq("tbl", "bucket")))
    val capped = graft.operators.AnnTuning.capBuckets(keyed, 10)
    val maxBucket = capped.groupBy("tbl", "bucket").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket <= 10, s"cap violated: bucket of $maxBucket")
    // capped ANN: per-query candidates <= tables * cap, yet every query
    // still gets a top-1 answer (index subset is nonempty per hot bucket)
    val out = GroupD.annLsh(df, tables = 4, bits = 4, bucketCap = 10)
    assert(out.count() == 200)
  }

  test("tuning survives degenerate corpora (tiny / single-vector samples)") {
    val df3 = spark.createDataFrame(Seq(
      (0L, Array.fill(64)(0.1)), (1L, Array.fill(64)(-0.1)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 0.2 else -0.2))))
      .toDF("vec_id", "v")
    val s3 = graft.operators.AnnTuning.lshStats(df3)
    // candidateFraction is a work metric (incidences per ordered pair) —
    // finite and non-negative, but legitimately > 1 on coarse configs
    assert(s3.nonEmpty && s3.forall(s =>
      s.candidateFraction >= 0.0 && !s.candidateFraction.isNaN &&
        !s.candidateFraction.isInfinite &&
        s.estRecall >= 0.0 && s.estRecall <= 1.0))
    graft.operators.AnnTuning.choose(s3, 0.9, 0.25) // must not throw
    val df1 = df3.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
    val s1 = graft.operators.AnnTuning.lshStats(df1)
    assert(s1.forall(s => !s.candidateFraction.isNaN && !s.estRecall.isNaN))
  }

  test("tuning sampling handles sparse id spaces and empty corpora (round-4 ADVICE)") {
    import org.apache.spark.sql.functions._
    // ids 17, 1000017, 2000017, … — a raw vec_id % k stride would sample
    // ZERO of these (no id is ≡ 0 mod k); the hash sample keeps ~n/k
    val sparse = spark.range(1000)
      .select((col("id") * 1000000L + 17L).as("vec_id"),
        array(Seq.fill(8)(lit(0.5)): _*).cast("array<double>").as("v"))
    val n = graft.operators.AnnTuning.sampleVectors(sparse, 100).count()
    assert(n > 30 && n < 300, s"sparse-id sample collapsed to $n rows")
    // an empty corpus yields zeroed stats, not an NPE from the max-bucket agg
    val s0 = graft.operators.AnnTuning.lshStats(sparse.filter(col("vec_id") < 0))
    assert(s0.nonEmpty && s0.forall(s =>
      s.candidateFraction == 0.0 && s.maxBucketFraction == 0.0))
  }

  test("d13 ANN top-5 overlap vs d3's exact top-5 is >= 0.8 (sf0.01, measured 0.92)") {
    val sf01 = "/root/testdata/sf0.01"
    val exact = GroupD.d3KnnJoin(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = GroupD.d13AnnTopk(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ann.keySet == exact.keySet, "d13 must answer every d3 query")
    assert(ann.values.forall(_.size <= 5))
    val overlaps = exact.map { case (q, ex) =>
      (ann(q) intersect ex).size.toDouble / ex.size }
    val mean = overlaps.sum / overlaps.size
    info(f"mean top-5 overlap $mean%.3f, min ${overlaps.min}%.3f")
    assert(mean >= 0.8, f"d13 mean top-5 overlap $mean%.3f < 0.8")
  }

  test("d11 IVF top-1 recall vs d3's exact top-1 is >= 0.65 (sf0.01, measured 0.74)") {
    val sf01 = "/root/testdata/sf0.01"
    val exact = GroupD.d3KnnJoin(spark, sf01)
      .filter(org.apache.spark.sql.functions.col("rn") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = GroupD.d11AnnIvf(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (q, nn) => ivf.get(q).contains(nn) }
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.65, s"d11 top-1 recall $recall < 0.65 (hits $hits/${exact.size})")
  }

  test("d11 IVF recall >= 0.95 probing ~2 of 15 cells in its clustered regime") {
    // IVF's effective regime (like d10's banding test): clustered vectors,
    // where the probed cells contain the true neighbor. 20 clusters x 5,
    // stride-7 centroids (~15 cells), 2 probes — vs 0.72 recall at 8/17
    // cells on the unclustered corpus above.
    val rnd = new scala.util.Random(4242)
    val dim = 64
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = (0 until 20).flatMap { c =>
      val base = unit(Array.fill(dim)(rnd.nextGaussian()))
      (0 until 5).map(m =>
        (c * 5L + m, unit(base.map(_ + 0.025 * rnd.nextGaussian()))))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "v")
    val out = GroupD.annIvf(df, stride = 7, probes = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val exact = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .maxBy { case (oid, ov) => (cos(ov, v), -oid.toDouble) }._1
    }.toMap
    val hits = exact.count { case (q, nn) => out.get(q).contains(nn) }
    assert(hits.toDouble / exact.size >= 0.95,
      s"clustered IVF recall ${hits}/${exact.size} < 0.95")
  }

  test("d9 block-pair join and d10 LSH-candidate dedup agree with brute force (sf0.001)") {
    val e = Tables(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val kept = e.filter { case (id, v) =>
      !e.exists { case (pid, pv) => pid < id && cos(pv, v) >= 0.3 }
    }.map(_._1).toSeq
    val d9 = GroupD.d9DedupEmbedding(spark, sf).collect().map(_.getLong(0)).toSeq
    val d10 = GroupD.d10DedupEmbeddingLsh(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(d9 == kept)
    assert(d10 == kept)
  }

  test("d10's banding recall is exact at sf0.01 — the fact its shared oracle depends on") {
    // Round-3 ADVICE: d10 reuses d9's exact NOT-EXISTS oracle on the
    // measured fact that 24×3 banding misses zero drops at the declared
    // SFs. This property makes that SF-contingency a NAMED assertion: if
    // regenerated test data (or a banding change) ever breaks it, this
    // fails as an approximation-recall regression with a clear message,
    // instead of d10's correctness row silently flipping red.
    val sf01 = "/root/testdata/sf0.01"
    val exact = GroupD.d9DedupEmbedding(spark, sf01).collect().map(_.getLong(0)).toSeq
    val lsh = GroupD.d10DedupEmbeddingLsh(spark, sf01).collect().map(_.getLong(0)).toSeq
    assert(lsh == exact,
      s"d10's 24×3 banding no longer matches d9's exact dedup at sf0.01 " +
        s"(${lsh.size} vs ${exact.size} kept): its banding recall dropped below " +
        "1.0 on this data — REMOVE d10's shared oracle declaration (make it " +
        "rows-only) before the next verify run, then retune the banding")
  }

  test("d10's LSH banding PRUNES in its near-dup regime (clustered corpus, tau=0.9)") {
    // The declared tau=0.3 dataset is the worst case for banding (see
    // SCALE.md); this pins the regime the machinery is built for: 20
    // clusters of 5 near-copies (cosine ~0.96 within, ~0 across), tau=0.9,
    // 8 tables x 8 bits -> candidates are a small fraction of all pairs
    // while every non-first cluster member is still dropped.
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(12345)
    val dim = 64
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = (0 until 20).flatMap { c =>
      val base = unit(Array.fill(dim)(rnd.nextGaussian()))
      (0 until 5).map { m =>
        val noisy = unit(base.map(_ + 0.025 * rnd.nextGaussian()))
        (c * 5L + m, s"cluster$c", noisy)
      }
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "label", "v")
    val out = GroupD.dedupEmbeddingLsh(df, tables = 8, bits = 8, threshold = 0.9)
      .collect().map(_.getLong(0)).toSeq
    // exact expectation by brute force on the driver (100 vectors)
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val kept = vecs.filter { case (id, _, v) =>
      !vecs.exists { case (pid, _, pv) => pid < id && cos(pv, v) >= 0.9 }
    }.map(_._1)
    assert(out == kept, s"LSH dedup diverged: got ${out.size}, want ${kept.size}")
    assert(kept.size == 20) // exactly the first member of each cluster survives
    // pruning: candidate pairs well under 10% of all pairs
    val keyed = df.select(col("vec_id"), posexplode(
      graft.functions.GraftFunctions.lshKeys(col("v"), 8, 8))
      .as(Seq("tbl", "bucket")))
    val nCand = keyed.as("x").join(keyed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id")).distinct().count()
    val allPairs = vecs.size.toLong * (vecs.size - 1) / 2
    assert(nCand < allPairs / 10, s"banding failed to prune: $nCand of $allPairs pairs")
  }

  test("d89 (d88's DECLARED production path): recall 1.0 vs the exact anchor (r17/r18)") {
    // d88's declared query is the exact block-pair oracle anchor (d9's
    // shape); d89 is the DECLARED scale path (r18) — the SAME decoded
    // grid-luma feature column through dedupEmbeddingLsh in the
    // near-dup regime (family cosines ≈ 1 by the one-row-shift
    // construction): measured-zero missed drops vs the exact anchor,
    // junk passthrough preserved, and the banding actually prunes.
    // This equivalence is what justifies d89 sharing d88's oracle SQL.
    import org.apache.spark.sql.functions._
    val feats = GroupD.d88Features(spark, sf)
      .select(col("doc_id").as("vec_id"), lit("img").as("label"), col("v"))
    val lsh = GroupD.d89MediaEmbedDedupLsh(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val exact = GroupD.d88MediaEmbedDedup(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(lsh == exact,
      s"LSH twin diverged from the exact anchor (${lsh.size} vs " +
        s"${exact.size} kept): banding recall dropped below 1.0 on the " +
        "decoded features — retune tables/bits before declaring")
    // junk docs (unparseable, NULL features) pass the gate
    assert(exact.exists(_ % 17 == 0))
    // pruning: candidate volume well under the all-pairs square
    val keyed = feats.select(col("vec_id"), posexplode(
      graft.functions.GraftFunctions.lshKeys(col("v"), 8, 12))
      .as(Seq("tbl", "bucket")))
    val nCand = keyed.as("x").join(keyed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id")).distinct().count()
    val n = feats.count()
    assert(nCand < n * (n - 1) / 2 / 4,
      s"banding failed to prune on decoded features: $nCand pairs")
  }

  test("d90: the media funnel's stages agree with the operators they audit (r18)") {
    import org.apache.spark.sql.functions._
    val rows = GroupD.d90MediaPipelineE2e(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_decode", "2_pairs", "3_clusters", "4_keep_best"))
    val m = rows.map(r => r.getString(0) -> r).toMap
    val nDocs = m("1_decode").getLong(1)
    val nDec = m("1_decode").getLong(2)
    // decode refusals are exactly the junk docs (≡ 0 mod 17)
    assert(nDocs - nDec == Tables(spark, sf, "documents")
      .filter(col("doc_id") % 17 === 0).count())
    // stage metrics equal the declared operators' own numbers
    assert(m("2_pairs").getLong(3) == GroupD.d78ImageDedup(spark, sf).count())
    val cl = GroupD.d80ImageClusters(spark, sf)
    val nClusters = cl.select("cluster_id").distinct().count()
    assert(m("3_clusters").getLong(4) == nClusters)
    // keep-best survivors: decoded − clustered + one representative each
    assert(m("4_keep_best").getLong(2) == nDec - cl.count() + nClusters)
    // every funnel row balances
    rows.foreach(r => assert(r.getLong(6) == r.getLong(1) - r.getLong(2)))
  }

  test("d5 language id emits a prediction for every document") {
    val docs = Tables(spark, sf, "documents")
    val out = GroupD.d5LangId(spark, sf)
    assert(out.count() == docs.count())
    val langs = out.select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "es", "fr", "de", "und")))
  }

  test("d6 quality ratios stay inside fixed-point bounds") {
    val rows = GroupD.d6QualityScore(spark, sf).collect()
    assert(rows.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 10000)) // punct
    assert(rows.forall(r => r.getLong(4) >= 0 && r.getLong(4) <= 10000)) // stopword
  }

  test("d12 sketch aggregates stay within their error bounds vs exact") {
    import org.apache.spark.sql.functions._
    val li = Tables(spark, sf, "lineitem")
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("parts"),
        expr("percentile(l_extendedprice, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sk = GroupD.d12SketchStats(spark, sf).collect()
    assert(sk.nonEmpty)
    sk.foreach { r =>
      val (parts, p50) = exact(r.getString(0))
      val relCnt = math.abs(r.getLong(1) - parts).toDouble / parts
      assert(relCnt <= 0.10, s"HLL distinct off by ${relCnt * 100}%")
      val relP = math.abs(r.getDouble(3) - p50) / p50
      assert(relP <= 0.05, s"approx p50 off by ${relP * 100}%")
    }
  }

  test("d8 fingerprints are stable 32-hex md5 plus bounded rolling hash") {
    val rows = GroupD.d8Fingerprint(spark, sf).collect()
    assert(rows.forall(_.getString(1).matches("[0-9a-f]{32}")))
    assert(rows.forall { r =>
      val h = r.getLong(2); h >= 0 && h < 2147483647L
    })
  }

  test("d33 PQ retrieval: top-5 overlap vs d3's exact top-5 (sf0.01)") {
    val sf01 = "/root/testdata/sf0.01"
    val exact = GroupD.d3KnnJoin(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val pq = GroupD.d33AnnPq(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(exact.nonEmpty && pq.keySet == exact.keySet,
      "every query answered")
    assert(pq.values.forall(_.size == 5), "exactly 5 reranked neighbors each")
    val overlap = exact.map { case (q, nns) =>
      (nns intersect pq(q)).size.toDouble / nns.size }.sum / exact.size
    info(f"measured mean top-5 overlap vs exact: $overlap%.3f")
    // the honest weak-correlation number (same corpus regime that forces
    // d4 coarse and caps d11 at 0.72): measured 0.54 — PQ distortion
    // hurts most when true neighbors are barely above the noise floor.
    // The clustered-regime pin below is where PQ serves; both are visible.
    assert(overlap >= 0.45, f"PQ top-5 overlap $overlap%.3f below pin")
    // determinism: a second full run with the model memo CLEARED — so the
    // k-means training genuinely reruns — reproduces the identical
    // neighbor sets (a memo hit would make this assertion vacuous)
    graft.operators.PqIndex.clearMemo()
    val again = GroupD.d33AnnPq(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pq.toSeq.flatMap { case (q, s) => s.map(q -> _) }.toSet)
  }

  test("d33 PQ top-1 is near-exact in its clustered serving regime") {
    // PQ's effective regime (d10/d11's pattern): tight clusters, where the
    // reconstructed vectors preserve neighbor order and the C-shortlist
    // plus exact rerank recovers the true top-1 almost always.
    val rnd = new scala.util.Random(4242)
    val dim = 64
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = (0 until 40).flatMap { c =>
      val base = unit(Array.fill(dim)(rnd.nextGaussian()))
      (0 until 5).map(m =>
        (c * 5L + m, unit(base.map(_ + 0.025 * rnd.nextGaussian())).map(_.toFloat)))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val out = GroupD.annPq(df, "pq|spec-clustered-4242")
      .filter(org.apache.spark.sql.functions.col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val exact = vecs.filter(_._1 < 50).map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .maxBy { case (oid, ov) => (cos(ov, v), -oid.toDouble) }._1
    }.toMap
    val hits = exact.count { case (q, nn) => out.get(q).contains(nn) }
    val recall = hits.toDouble / exact.size
    info(f"clustered PQ top-1 recall: $recall%.3f")
    assert(recall >= 0.9, s"clustered PQ recall $hits/${exact.size} below 0.9")
  }

  test("d33 PQ under an adversarially dense cell: bounded output, honest recall split") {
    // one embedding region holds 90% of the corpus as near-duplicates of a
    // single point — the density regime the d39 cluster cap guards
    // against. In d33's serving path the VOLUME hazard does not exist
    // (the ADC top-C prunes map-side; PlanShapeSpec pins the partial
    // WindowGroupLimit), but near-duplicates quantize to IDENTICAL codes,
    // so ADC ties inside the cell break by nn_id and a cell denser than C
    // can hide a dense query's true neighbor — recall inside the cell is
    // the honest casualty, while sparse queries outside it keep their
    // neighbors. This test pins both halves.
    val rnd = new scala.util.Random(777)
    val dim = 64
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val base = unit(Array.fill(dim)(rnd.nextGaussian()))
    // ids 0..24: dense-cell queries; ids 100..524: the rest of the cell
    val dense = ((0 until 25).map(_.toLong) ++ (100 until 525).map(_.toLong))
      .map(id => (id, unit(base.map(_ + 0.005 * rnd.nextGaussian())).map(_.toFloat)))
    // ids 25..49: sparse queries, each with one true partner at 1000+i
    val sparse = (25 until 50).flatMap { i =>
      val b = unit(Array.fill(dim)(rnd.nextGaussian()))
      Seq((i.toLong, unit(b.map(_ + 0.025 * rnd.nextGaussian())).map(_.toFloat)),
        (1000L + i, unit(b.map(_ + 0.025 * rnd.nextGaussian())).map(_.toFloat)))
    }
    val all = dense ++ sparse
    val df = spark.createDataFrame(all).toDF("vec_id", "embedding")
    val out = GroupD.annPq(df, "pq|spec-dense-777").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // bounded, complete, deterministic output under the skew
    val perQ = out.groupBy(_._1)
    assert(perQ.size == 50 && perQ.values.forall(_.length == 5),
      "every query answers exactly 5 under the dense cell")
    val again = GroupD.annPq(df, "pq|spec-dense-777").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq == again.toSeq, "deterministic under ties")
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val byId = all.toMap
    def exactTop1(q: Long) = all.filter(_._1 != q)
      .maxBy { case (oid, ov) => (cos(ov, byId(q)), -oid.toDouble) }._1
    val top1 = out.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    val sparseHits = (25 until 50).count(i => top1(i.toLong) == exactTop1(i.toLong))
    val denseHits = (0 until 25).count(i => top1(i.toLong) == exactTop1(i.toLong))
    info(s"dense-cell top-1 recall: $denseHits/25; sparse top-1 recall: $sparseHits/25")
    assert(sparseHits >= 20,
      s"sparse queries must keep their true partners: $sparseHits/25")
    // dense-cell recall may legitimately collapse (C=50 shortlist over a
    // 450-strong ADC-tied cell picks by id) — the assert is only that the
    // engine still answers correctly-SHAPED results there, pinned above.
  }

  test("d37 sharded split is bit-identical to d15's single-window split") {
    val a = GroupD.d15StratifiedSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val b = GroupD.d37SplitSharded(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("sharded prefix sum equals the single-window running total (d20's shape)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val plain = docs.withColumn("start_pos",
        coalesce(sum("n_tokens").over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("doc_id", "start_pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sharded = graft.operators.ShardedOrder.rankAndPrefixSum(
        docs, Seq("lang"), md5(col("doc_id").cast("string")), col("doc_id"),
        weight = Some(col("n_tokens")))
      .select("doc_id", "prefix").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain.nonEmpty && sharded == plain)
  }

  test("sharded order fails fast when input columns collide with its outputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val df = Seq((1L, "a", 2L)).toDF("id", "k", "n")
    val e = intercept[IllegalArgumentException] {
      graft.operators.ShardedOrder.rankAndPrefixSum(
        df, Seq("k"), md5(col("id").cast("string")), col("id"))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("d36 policy: brute for rare predicates, pre for selective, post for loose") {
    assert(GroupD.filteredAnnPolicy(0.01) == "brute")
    assert(GroupD.filteredAnnPolicy(0.02) == "brute")
    assert(GroupD.filteredAnnPolicy(0.09) == "pre")
    assert(GroupD.filteredAnnPolicy(0.5) == "pre")
    assert(GroupD.filteredAnnPolicy(0.8) == "post")
  }

  test("d36 filtered ANN (pre branch): in-predicate neighbors, overlap vs d35 exact") {
    val sf01 = "/root/testdata/sf0.01"
    import org.apache.spark.sql.functions.col
    val labels = Tables(spark, sf01, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = GroupD.d36FilteredAnn(spark, sf01).collect()
    assert(rows.nonEmpty)
    // every returned neighbor satisfies the predicate (label = 1)
    assert(rows.forall(r => labels(r.getLong(1)) == 1),
      "a non-matching neighbor escaped the filter")
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val exact = GroupD.d35FilteredKnn(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(approx.keySet == exact.keySet, "every query answered")
    val overlap = exact.map { case (q, nns) =>
      (nns intersect approx(q)).size.toDouble / nns.size }.sum / exact.size
    info(f"d36 pre-filter top-5 overlap vs d35 exact: $overlap%.3f")
    // measured 0.98: the ~46-vector matching subset lets the tuner pick a
    // high-recall banding cheaply — the pre-filter branch's whole point
    assert(overlap >= 0.9, f"overlap $overlap%.3f below pin")
  }

  test("d36 brute branch IS exact: rare predicate equals the brute-force answer") {
    val sf01 = "/root/testdata/sf0.01"
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sf01, "embeddings")
      .select(col("vec_id"), (pmod(col("vec_id"), lit(97)) === 0).as("matches"),
        col("embedding").cast("array<double>").as("v"))
    val got = GroupD.filteredAnnLsh(e, "fann|spec-brute", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // exact reference: full scan over the matching subset
    val vecs = e.collect().map(r =>
      (r.getLong(0), r.getBoolean(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      dot / (na * nb)
    }
    val sub = vecs.filter(_._2)
    val want = vecs.filter(_._1 < 50).flatMap { case (q, _, qv) =>
      sub.filter(_._1 != q)
        .map { case (id, _, v) => (id, cos(v, qv)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).zipWithIndex
        .map { case ((id, _), i) => (q, id, (i + 1).toLong) }
    }.toSet
    assert(got.toSet == want, "brute branch must be bit-exact vs the scan")
  }

  test("d36 post branch: loose predicate keeps only matching neighbors") {
    val sf01 = "/root/testdata/sf0.01"
    import org.apache.spark.sql.functions.col
    val e = Tables(spark, sf01, "embeddings")
      .select(col("vec_id"), (col("label") <= 7).as("matches"),
        col("embedding").cast("array<double>").as("v"))
    val rows = GroupD.filteredAnnLsh(e, "fann|spec-post").collect()
    assert(rows.nonEmpty)
    val labels = Tables(spark, sf01, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => labels(r.getLong(1)) <= 7),
      "post-filter let a non-matching candidate through")
    val perQ = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    info(s"d36 post branch: ${perQ.size} queries, " +
      s"min ${perQ.values.min} max ${perQ.values.max} neighbors")
    assert(perQ.values.max <= 5)
    // overlap vs the exact filtered answer (brute force over 500 vectors)
    val vecs = e.collect().map(r =>
      (r.getLong(0), r.getBoolean(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val sub = vecs.filter(_._2)
    val exact = vecs.filter(_._1 < 50).map { case (q, _, qv) =>
      q -> sub.filter(_._1 != q)
        .map { case (id, _, v) => (id, cos(v, qv)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
    }.toMap
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val overlap = exact.map { case (q, nns) =>
      (nns intersect approx.getOrElse(q, Set.empty)).size.toDouble / nns.size
    }.sum / exact.size
    info(f"d36 post-filter top-5 overlap vs exact filtered: $overlap%.3f")
    // measured 0.916: at ~80% selectivity most of a query's candidates
    // survive the predicate, so the shared index barely loses recall —
    // exactly why post-filter is the loose-predicate policy
    assert(overlap >= 0.8, f"post-branch overlap $overlap%.3f below pin")
  }

  test("d39 SemDeDup drops are a subset of d9's corpus-wide drops; reruns identical") {
    val sf01 = "/root/testdata/sf0.01"
    // every within-cluster drop's witness pair is also a corpus-wide pair,
    // so d9's survivors must all survive d39's blocked pass too
    val d9Surv = GroupD.d9DedupEmbedding(spark, sf01).collect()
      .map(_.getLong(0)).toSet
    val d39 = GroupD.d39SemDedup(spark, sf01).collect()
    val d39Surv = d39.map(_.getLong(0)).toSet
    assert(d39Surv.nonEmpty && d9Surv.subsetOf(d39Surv))
    info(s"d9 survivors ${d9Surv.size}, d39 (cluster-blocked) ${d39Surv.size} of 500")
    assert(d39Surv.size < 500, "SemDeDup must actually drop something here")
    val again = GroupD.d39SemDedup(spark, sf01).collect().map(_.getLong(0)).toSet
    assert(again == d39Surv, "k-means + drop pass must be deterministic")
  }

  test("d39 SemDeDup catches the in-cluster near-dups on a clustered corpus") {
    // the paper's premise: semantic duplicates co-locate in embedding
    // clusters — on a corpus of tight clusters, blocking loses (almost)
    // nothing vs the corpus-wide quadratic rule
    val rnd = new scala.util.Random(1717)
    val dim = 16
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = (0 until 8).flatMap { c =>
      val base = unit(Array.fill(dim)(rnd.nextGaussian()))
      (0 until 25).map(m =>
        (c * 25L + m, unit(base.map(_ + 0.02 * rnd.nextGaussian())).map(_.toFloat)))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val assign = graft.operators.KMeans.fit(df, k = 8, iters = 3).assignments
      .join(df, "vec_id")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("cluster"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("v"))
    val surv = GroupD.semDedupDrops(assign).collect().map(_.getLong(0)).toSet
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    // corpus-wide (unblocked) drop set at the same threshold
    val bruteDrops = vecs.filter { case (id, v) =>
      vecs.exists { case (oid, ov) => oid < id && cos(ov, v) >= 0.3 }
    }.map(_._1).toSet
    val blockedDrops = vecs.map(_._1).toSet -- surv
    assert(blockedDrops.subsetOf(bruteDrops))
    val recall = blockedDrops.size.toDouble / math.max(bruteDrops.size, 1)
    info(f"SemDeDup blocked-drop recall vs corpus-wide: $recall%.3f " +
      s"(${blockedDrops.size}/${bruteDrops.size})")
    assert(recall >= 0.9, f"clustered-regime recall $recall%.3f below pin")
  }

  test("d39 SemDeDup bounds pair volume on an adversarially dense cluster") {
    // one embedding region concentrating into a single k-means cell is
    // exactly the workload SemDeDup exists for — the pair join must stay
    // LINEAR in the cluster size (≤ |c|·maxCluster), not |c|²
    val rnd = new scala.util.Random(2929)
    val dim = 8
    val n = 2000
    def unit(v: Array[Double]) = {
      val m = math.sqrt(v.map(x => x * x).sum); v.map(_ / m)
    }
    val base = unit(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until n).map(i =>
      (i.toLong, unit(base.map(_ + 0.01 * rnd.nextGaussian()))))
    import org.apache.spark.sql.functions.{col, lit}
    val assign = spark.createDataFrame(vecs).toDF("vec_id", "v")
      .withColumn("cluster", lit(0)) // all 2000 vectors in ONE cluster
      .select("vec_id", "cluster", "v")
    val maxC = GroupD.SemDedupMaxCluster
    val pairs = GroupD.semDedupPairs(assign, maxC).count()
    val uncapped = n.toLong * (n - 1) / 2 // 1,999,000
    assert(pairs <= n.toLong * maxC,
      s"dense-cluster pair volume $pairs exceeds the |c|*maxCluster bound")
    info(s"dense cluster: $pairs candidate pairs vs $uncapped uncapped " +
      f"(${pairs.toDouble / uncapped * 100}%.1f%%)")
    // the shards still do SemDeDup's job: near-identical vectors find an
    // in-shard witness, so almost everything but per-shard minima drops
    val surv = GroupD.semDedupDrops(assign, maxC).count()
    val shards = (n + maxC - 1) / maxC
    assert(surv <= shards,
      s"$surv survivors from a near-identical cluster; expected ≤ $shards (one per shard)")
    // and the guard must not touch normal-size clusters: below the cap the
    // pair frame is the plain within-cluster quadratic
    val small = assign.filter(col("vec_id") < maxC)
    assert(GroupD.semDedupPairs(small, maxC).count() ===
      maxC.toLong * (maxC - 1) / 2)
  }

  test("d43 signature-screened containment is a subset of d30 with high recall") {
    val sf01 = "/root/testdata/sf0.01"
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exact = GroupD.d30ContainmentProbe(spark, sf01).collect().map(key).toSet
    val approx = GroupD.d43ContainmentMinhash(spark, sf01).collect().map(key).toSet
    // one-sided: every emitted pair passed the exact verify, so d43 can
    // only MISS pairs the signature screen rejected — never fabricate
    assert(approx.subsetOf(exact), s"fabricated pairs: ${approx -- exact}")
    val recall = approx.size.toDouble / math.max(exact.size, 1)
    info(f"d43 recall vs d30: $recall%.3f (${approx.size}/${exact.size})")
    assert(exact.nonEmpty && recall >= 0.9, f"recall $recall%.3f below pin")
    // and the screen must actually prune junk (the point of the
    // estimator). d30's prefix candidates at this SF are already ~pure
    // (25 of 26 are true pairs — nothing to prune there), so measure the
    // screen against ALL co-shingled pairs: the junk-heavy population it
    // faces when candidate generation is less selective
    val sh = GroupC.shingles(spark, sf01)
    val sigs = GroupD.d43Sigs(sh)
    val allPairs = GroupC.pairOverlap(spark, sf01).select("doc_a", "doc_b")
    val nAll = allPairs.count()
    val nScreened = GroupD.d43Screen(allPairs, sigs).count()
    val frac = nScreened.toDouble / math.max(nAll, 1)
    info(f"screen kept $nScreened of $nAll co-shingled pairs ($frac%.3f)")
    assert(frac < 0.2, f"signature screen stopped pruning: $frac%.3f")
  }

  test("d41 CMS-gated novelty is one-sided vs d32's exact gate, and deterministic") {
    val exact = GroupD.d32BigramNovelty(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val cms = GroupD.d41BigramNoveltyCms(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(cms.nonEmpty && cms.keySet == exact.keySet)
    // same denominators; CMS can only over-count, so OOV (and novelty)
    // can only shrink
    assert(cms.forall { case (id, (nb, noov, nov)) =>
      nb == exact(id)._1 && noov <= exact(id)._2 && nov <= exact(id)._3 })
    val agree = cms.count { case (id, v) => v == exact(id) }
    info(f"d41 exact-agreement: $agree/${cms.size} docs")
    assert(agree.toDouble / cms.size >= 0.95,
      "at eps=1e-4 on this corpus the sketch should almost never collide")
    val again = GroupD.d41BigramNoveltyCms(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(again == cms, "fixed-seed sketch must be deterministic")
  }

  test("d38 BPE pairs: ranks contiguous, counts non-increasing, weights positive") {
    val rows = GroupD.d38BpePairs(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_.getLong(3)).toSeq == (1L to rows.length).toSeq)
    val cnts = rows.map(_.getLong(2)).toSeq
    assert(cnts == cnts.sorted.reverse && cnts.forall(_ > 0))
    assert(rows.forall(r => r.getString(0).length == 1 && r.getString(1).length == 1))
  }

  test("PQ training fails fast on a mixed-dimension corpus") {
    // a shorter vector passes the dim % m gate yet would slice misaligned
    // subvectors — the trainer must reject it, not degrade silently
    import spark.implicits._
    val mixed = Seq((1L, Array.fill(8)(0.5f)), (2L, Array.fill(4)(0.5f)))
      .toDF("vec_id", "nvec")
    val e = intercept[IllegalArgumentException] {
      graft.operators.PqIndex.train("pq|spec-mixed-dims", mixed, m = 2, k = 2, iters = 1)
    }
    assert(e.getMessage.contains("fixed-dimension"))
  }

  test("d33 PQ codes are 4-bit per subspace on the small corpus too") {
    // run the query end to end at sf0.001 (cheap) and sanity the shape
    val rows = GroupD.d33AnnPq(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("d48 label kNN: tight clusters vote their own label; a planted mislabel is outvoted") {
    // 4 well-separated tight clusters, constant label per cluster, one
    // vector in cluster 0 deliberately mislabeled — every prediction must
    // be the cluster's geometric label, so agree=false exactly there
    val rnd = new scala.util.Random(4242)
    val dim = 16
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val bases = Array.fill(4)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val vecs = (0 until 4).flatMap { c =>
      (0 until 20).map { m =>
        val id = c * 20L + m
        val lbl = if (id == 5L) 3 else c // plant: cluster 0, label 3
        (id, lbl, unit(bases(c).map(_ + 0.01 * rnd.nextGaussian())))
      }
    }
    val e = spark.createDataFrame(vecs).toDF("vec_id", "label", "v")
    val out = GroupD.labelKnnOf(e).collect()
    assert(out.length == vecs.length)
    out.foreach { r =>
      val (id, pred, agree) = (r.getLong(0), r.getInt(2), r.getBoolean(4))
      val geom = (id / 20).toInt
      assert(pred == geom, s"vec $id predicted $pred, cluster label $geom")
      assert(agree == (id != 5L), s"vec $id agree flag wrong")
    }
  }

  test("d52 ANN label kNN agrees >= 0.9 with d48's exact scan on a clustered corpus, sub-quadratic") {
    // the declared 100 TB trade: same vote contract, LSH candidate pool.
    // Clustered labeled corpus (pseudo-labeling's regime): 8 tight
    // clusters x 25, constant label per cluster, one planted mislabel.
    val rnd = new scala.util.Random(5252)
    val dim = 32
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val bases = Array.fill(8)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val vecs = (0 until 8).flatMap { c =>
      (0 until 25).map { m =>
        val id = c * 25L + m
        val lbl = if (id == 3L) 7 else c
        (id, lbl, unit(bases(c).map(_ + 0.02 * rnd.nextGaussian())))
      }
    }
    val e = spark.createDataFrame(vecs).toDF("vec_id", "label", "v")
    val exact = GroupD.labelKnnOf(e).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    // BOTH candidate families must hold the agreement bar on their own,
    // and the measured route must reproduce one of them exactly
    val byFamily = Seq("lsh", "ivf").map { fam =>
      val preds = GroupD.labelKnnAnnOf(e, "lsh|spec-d52",
        family = Some(fam)).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(preds.size >= (vecs.size * 9) / 10,
        s"$fam coverage ${preds.size}/${vecs.size} below 0.9")
      val common = exact.keySet intersect preds.keySet
      val agree = common.count(id => exact(id) == preds(id))
      info(f"d52[$fam] vs d48 agreement: $agree/${common.size}")
      assert(agree.toDouble / common.size >= 0.9,
        s"$fam agreement $agree/${common.size} below 0.9")
      fam -> preds
    }.toMap
    val approx = GroupD.labelKnnAnnOf(e, "lsh|spec-d52").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(byFamily.values.exists(_ == approx),
      "the measured route must pick one of the two families verbatim")
    // sub-quadratic: the candidate pool must be well under all-pairs
    val tuned = graft.operators.AnnTuning.tunedLsh(
      e.select("vec_id", "v"), "lsh|spec-d52")
    val nCand = GroupD.lshCandidatePairs(e.select("vec_id", "v"),
      tuned.config.tables, tuned.config.bits,
      graft.operators.AnnTuning.effectiveCap(tuned)).count()
    val n = vecs.size.toLong
    info(s"d52 candidates: $nCand of ${n * (n - 1)} ordered pairs")
    assert(nCand <= n * (n - 1) / 2,
      s"candidate volume $nCand not sub-quadratic vs ${n * (n - 1)}")
    // deterministic across reruns
    val again = GroupD.labelKnnAnnOf(e, "lsh|spec-d52").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(again == approx, "reruns must be identical")
  }

  test("d49 label purity: a planted far-out vector ranks worst in its label") {
    val rnd = new scala.util.Random(5151)
    val dim = 16
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val base = unit(Array.fill(dim)(rnd.nextGaussian()))
    val far = unit(base.map(-_)) // antipode: cosine to centroid ≈ -1
    val vecs = (0 until 40).map { m =>
      (m.toLong, 0, if (m == 7) far else unit(base.map(_ + 0.01 * rnd.nextGaussian())))
    } :+ (99L, 1, unit(Array.fill(dim)(rnd.nextGaussian()))) // singleton label
    val e = spark.createDataFrame(vecs).toDF("vec_id", "label", "v")
    val out = GroupD.labelPurityOf(e).collect()
      .map(r => r.getLong(0) -> (r.getInt(3), r.getBoolean(4))).toMap
    assert(out(7L) == ((1, true)), "antipode must rank worst and flag")
    // bottom 5% of 40 = 2 flagged rows in label 0; the singleton label's
    // only member is its own bottom 5% (max(1, 1 div 20) = 1) and flags
    assert(out.count { case (id, (_, o)) => o && id != 99L } == 2)
    assert(out(99L)._2, "singleton label's sole member flags by the max(1, n/20) rule")
  }

  test("d51 drift: a delta drawn from ONE cluster shifts shares; far vectors count as OOD") {
    val rnd = new scala.util.Random(6161)
    val dim = 16
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val bases = Array.fill(4)(unit(Array.fill(dim)(rnd.nextGaussian())))
    // balanced reference: 4 tight clusters × 30
    val refVecs = (0 until 4).flatMap { c =>
      (0 until 30).map(m => (c * 30L + m,
        unit(bases(c).map(_ + 0.01 * rnd.nextGaussian())).map(_.toFloat)))
    }
    val ref = spark.createDataFrame(refVecs).toDF("vec_id", "embedding")
    val model = graft.operators.KMeans.fit(ref, k = 4, iters = 5)
    // delta: 20 vectors ALL near base 0 + 5 far OOD vectors (antipode of
    // base 1 keeps them off every training mode)
    val deltaVecs = (0 until 20).map(m => (1000L + m,
      unit(bases(0).map(_ + 0.01 * rnd.nextGaussian())).map(_.toFloat))) ++
      (0 until 5).map(m => (2000L + m,
        unit(bases(1).map(-_)).map(_.toFloat)))
    val delta = spark.createDataFrame(deltaVecs).toDF("vec_id", "embedding")
    val out = GroupD.embeddingDriftOf(ref, delta, model.centroids).collect()
    assert(out.length == 4, "one report row per cluster")
    // reference shares are balanced at 2500 each; the planted delta mass
    // concentrates, so SOME cluster's share must shift by ≥ 2000 fp
    assert(out.map(_.getLong(6)).max >= 2000,
      s"planted concentration must show as share shift: ${out.mkString("; ")}")
    // all 5 antipodes are certainly past the reference p95; a p95 bar
    // also tags ~5% of in-distribution vectors, so allow a small tail
    val ood = out.map(_.getLong(3)).sum
    assert(ood >= 5L && ood <= 8L,
      s"OOD count $ood outside [5, 8]: antipodes must count, tail stays small")
    val again = GroupD.embeddingDriftOf(ref, delta, model.centroids).collect()
    assert(again.map(_.toString).sameElements(out.map(_.toString)), "deterministic")
  }

  test("d53 maintenance audit: the drifted cell splits, quiet cells keep, report is deterministic") {
    // planted shift (d51's fixture shape): standing model on 4 balanced
    // clusters; the delta concentrates in cluster 0's region plus OOD
    // antipodes — d53 must flag and split ONLY the hit cells
    val rnd = new scala.util.Random(6464)
    val dim = 16
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val bases = Array.fill(4)(unit(Array.fill(dim)(rnd.nextGaussian())))
    val refVecs = (0 until 4).flatMap { c =>
      (0 until 30).map(m => (c * 30L + m,
        unit(bases(c).map(_ + 0.01 * rnd.nextGaussian())).map(_.toFloat)))
    }
    val ref = spark.createDataFrame(refVecs).toDF("vec_id", "embedding")
    val model = graft.operators.KMeans.fit(ref, k = 4, iters = 5)
    val deltaVecs = (0 until 25).map(m => (1000L + m,
      unit(bases(0).map(_ + 0.01 * rnd.nextGaussian())).map(_.toFloat)))
    val delta = spark.createDataFrame(deltaVecs).toDF("vec_id", "embedding")
    val out = GroupD.maintainOf(spark, ref, delta, model.centroids).collect()
    assert(out.length == 4, "one audit row per ORIGINAL cell")
    val byAction = out.groupBy(_.getString(5))
    val splits = byAction.getOrElse("split", Array.empty)
    assert(splits.nonEmpty, "the concentrated delta must flag its cell")
    // split rows allocate fresh child ids past the original k; keeps point
    // at themselves with child_b = -1
    val newIds = splits.map(_.getInt(7))
    assert(newIds.forall(_ >= 4) && newIds.distinct.length == newIds.length)
    for (r <- byAction.getOrElse("keep", Array.empty))
      assert(r.getInt(6) == r.getInt(0) && r.getInt(7) == -1)
    val again = GroupD.maintainOf(spark, ref, delta, model.centroids).collect()
    assert(again.map(_.toString).sameElements(out.map(_.toString)), "deterministic")
  }

  test("d54 serves the persisted maintained model: consistent roles, memo-hot, deterministic") {
    val out = GroupD.queries("d54_maintained_serve")(spark, sf).collect()
    assert(out.nonEmpty, "one row per maintained cell")
    // role/parent invariants: kept and split_a point at themselves,
    // split_b at a split_a parent; members cover the whole corpus
    val byRole = out.groupBy(_.getString(2))
    for (r <- byRole.getOrElse("kept", Array.empty))
      assert(r.getInt(3) == r.getInt(0))
    for (r <- byRole.getOrElse("split_a", Array.empty))
      assert(r.getInt(3) == r.getInt(0))
    val splitA = byRole.getOrElse("split_a", Array.empty).map(_.getInt(0)).toSet
    for (r <- byRole.getOrElse("split_b", Array.empty))
      assert(splitA.contains(r.getInt(3)), s"split_b parent not split_a: $r")
    val total = out.map(_.getLong(1)).sum
    val nVecs = graft.queries.Tables(spark, sf, "embeddings").count()
    assert(total == nVecs, s"served members $total != corpus $nVecs")
    // second run serves memo-hot from the SAME artifact — identical rows
    val again = GroupD.queries("d54_maintained_serve")(spark, sf).collect()
    assert(again.map(_.toString).sameElements(out.map(_.toString)))
  }

  test("d50 temperature quotas: budget-bounded, rare sources super-proportional, deterministic") {
    // 1000 docs: src_big 900, src_mid 90, src_rare 10 — at τ=0.5 the keep
    // FRACTION must rise as source size falls, and Σ k_s ≤ the 60% budget
    val docs = spark.range(1000).selectExpr("id as doc_id", "'en' as lang",
      "case when id < 900 then 'src_big' when id < 990 then 'src_mid' " +
        "else 'src_rare' end as source")
    val out = GroupD.temperatureSampleOf(docs)
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = Map("src_big" -> 900.0, "src_mid" -> 90.0, "src_rare" -> 10.0)
    val frac = sizes.map { case (s, n) => s -> kept.getOrElse(s, 0L) / n }
    assert(kept.values.sum <= 600, s"Σ quotas ${kept.values.sum} exceeds the 60% budget")
    // smaller sources keep a no-smaller fraction (the two below-average
    // sources here both hit their n_s cap → fraction 1.0; the dominant
    // source is the one being cut)
    assert(frac("src_rare") >= frac("src_mid") && frac("src_mid") > frac("src_big"),
      s"temperature must upweight rarity: $frac")
    val again = GroupD.temperatureSampleOf(docs).collect().map(_.toString).sorted
    assert(again.sameElements(out.collect().map(_.toString).sorted), "reruns must be identical")
  }

  test("d44's bloom route is bit-identical to the broadcast route") {
    // the oversized-benchmark branch: bloom prune + shuffle join must
    // reproduce the broadcast join EXACTLY (bloom FPs die in the join)
    val docs = graft.queries.Tables(spark, sf, "documents")
    val sh = graft.queries.GroupC.shinglesOf(docs)
    val bc = GroupD.contaminationReportOf(docs, sh, useBloom = false)
      .collect().map(_.toString)
    val bl = GroupD.contaminationReportOf(docs, sh, useBloom = true)
      .collect().map(_.toString)
    assert(bl.sameElements(bc),
      s"route divergence: broadcast ${bc.length} rows, bloom ${bl.length}")
  }

  test("d50 sharded rank (dominant-source escape) is bit-identical to the plain window") {
    // d37's equality pattern: the ShardedOrder form must reproduce the
    // single-window result EXACTLY on the dominant-source fixture it
    // exists for (one source is 90% of the corpus) — ranks, quotas, and
    // the kept set all included
    val docs = spark.range(1000).selectExpr("id as doc_id",
      "case when id % 7 = 0 then 'de' else 'en' end as lang",
      "case when id < 900 then 'src_big' when id < 990 then 'src_mid' " +
        "else 'src_rare' end as source")
    val plain = GroupD.temperatureSampleOf(docs).collect().map(_.toString)
    val sharded = GroupD.temperatureSampleShardedOf(docs).collect().map(_.toString)
    assert(sharded.sameElements(plain),
      s"sharded d50 diverged: ${sharded.length} vs ${plain.length} rows")
  }

  test("d60 IVF-PQ: answers every query from the standing models, deterministic, overlap reported") {
    val sf01 = "/root/testdata/sf0.01"
    val exact = GroupD.d3KnnJoin(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val got = GroupD.d60AnnIvfPq(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(exact.nonEmpty && got.keySet == exact.keySet,
      "every d3 query answered")
    assert(got.values.forall(_.size == 5), "exactly 5 reranked neighbors each")
    val overlap = exact.map { case (q, nns) =>
      (nns intersect got(q)).size.toDouble / nns.size }.sum / exact.size
    info(f"d60 mean top-5 overlap vs exact: $overlap%.3f")
    // double approximation (cell miss × PQ distortion) on the honest
    // weak-correlation corpus — measured 0.560, slightly ABOVE d33's
    // full-scan 0.54: the cell restriction screens out far-cell junk the
    // distorted ADC ranking would otherwise admit to the shortlist
    assert(overlap >= 0.45, f"IVF-PQ overlap $overlap%.3f below pin")
    // determinism across a full memo clear (both models genuinely retrain:
    // the PQ codebooks AND the tuned IVF (stride, probes) decision)
    graft.operators.PqIndex.clearMemo()
    graft.operators.AnnTuning.clearMemo()
    val again = GroupD.d60AnnIvfPq(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == got.toSeq.flatMap { case (q, s) => s.map(q -> _) }.toSet)
  }

  test("d60 IVF-PQ top-1 is near-exact in its clustered serving regime") {
    val rnd = new scala.util.Random(6060)
    val dim = 64
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = (0 until 40).flatMap { c =>
      val base = unit(Array.fill(dim)(rnd.nextGaussian()))
      (0 until 5).map(m =>
        (c * 5L + m, unit(base.map(_ + 0.025 * rnd.nextGaussian())).map(_.toFloat)))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val out = GroupD.annIvfPq(df,
        "ivf|spec-clustered-6060", "pq|spec-clustered-6060")
      .filter(org.apache.spark.sql.functions.col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val exact = vecs.filter(_._1 < 50).map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .maxBy { case (oid, ov) => (cos(ov, v), -oid.toDouble) }._1
    }.toMap
    val hits = exact.count { case (q, nn) => out.get(q).contains(nn) }
    val recall = hits.toDouble / exact.size
    info(f"clustered IVF-PQ top-1 recall: $recall%.3f")
    assert(recall >= 0.9, s"clustered IVF-PQ recall $hits/${exact.size} below 0.9")
  }

  test("d58 LM score: hand-computed add-one arithmetic, no-reference langs excluded") {
    // reference slice (src0, en): "a b a b a c" → c2(a,b)=2, c2(b,a)=2,
    // c2(a,c)=1; prefix counts c1(a)=3, c1(b)=2; successor vocab V=3
    val docs = spark.createDataFrame(Seq(
      (1L, "a b a b a c", "en", "src0"),
      (2L, "a b a c", "en", "src1"),     // in-domain: 500000+600000+333333
      (3L, "z q z", "en", "src1"),       // fully OOV: 2 × ⌊10⁶/3⌋
      (4L, "x y", "fr", "src1")          // no fr reference → excluded
    )).toDF("doc_id", "text", "lang", "source")
    val got = GroupD.lmScore(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(got.sameElements(Seq(
      (1L, 5L, 506666L),   // ⌊(2·500000 + 2·600000 + 333333) / 5⌋
      (2L, 3L, 477777L),   // ⌊(500000 + 600000 + 333333) / 3⌋
      (3L, 2L, 333333L))), // gibberish scores strictly below in-domain
      got.mkString(", "))
  }

  test("d61 budget assembly: rank-prefix selection that crosses the budget exactly once per lang") {
    import org.apache.spark.sql.functions._
    val out = GroupD.d61BudgetAssembly(spark, sf).cache()
    try {
      assert(out.count() > 0)
      // ranks are the contiguous prefix 1..k per lang (greedy best-first
      // selection can't skip a better-ranked doc)
      val perLang = out.groupBy("lang")
        .agg(count(lit(1)).as("k"), min("rk").as("lo"), max("rk").as("hi"),
          max("cum_tokens").as("top"))
      assert(perLang.filter(col("lo") =!= 1 || col("hi") =!= col("k")).isEmpty,
        "selected ranks must be a contiguous prefix")
      // every selected doc started under budget; the last one either
      // crosses the line or the lang ran out of scored docs
      assert(out.filter(col("cum_tokens") - col("n_tokens") >= 2500).isEmpty)
      val scoredPerLang = GroupD.d58LmScore(spark, sf)
        .groupBy("lang").agg(count(lit(1)).as("n_scored"))
      val under = perLang.join(scoredPerLang, "lang")
        .filter(col("top") < 2500 && col("k") =!= col("n_scored"))
      assert(under.isEmpty,
        "a lang under budget must have selected every scored doc")
    } finally out.unpersist()
  }

  test("d62 hard negatives: roles respect labels, margin is pos minus neg") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"))
    val out = GroupD.d62HardNegatives(spark, sf).cache()
    try {
      assert(out.count() == 50)
      assert(out.filter(col("pos_id") === col("qid") ||
        col("neg_id") === col("qid")).isEmpty)
      val labeled = out
        .join(e.toDF("qid", "qlabel"), "qid")
        .join(e.toDF("pos_id", "plabel"), Seq("pos_id"), "left")
        .join(e.toDF("neg_id", "nlabel"), Seq("neg_id"), "left")
      assert(labeled.filter(col("pos_id").isNotNull &&
        col("plabel") =!= col("qlabel")).isEmpty, "positive must share the label")
      assert(labeled.filter(col("neg_id").isNotNull &&
        col("nlabel") === col("qlabel")).isEmpty, "negative must differ in label")
      // margin rounds the UNROUNDED difference (like the oracle), so it
      // may differ from the difference of the rounded sims by ≤ 1e-6
      assert(out.filter(col("pos_sim").isNotNull && col("neg_sim").isNotNull &&
        abs(col("margin") - (col("pos_sim") - col("neg_sim"))) > 2e-6)
        .isEmpty, "margin arithmetic")
    } finally out.unpersist()
  }

  test("d64 hashed TF: bucket space bounded at 256, counts conserve tokens") {
    import org.apache.spark.sql.functions._
    val out = GroupD.d64HashedTf(spark, sf).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter(col("nnz") > 256 || col("nnz") < 1 ||
        col("nnz") > col("n_tokens")).isEmpty)
      // token conservation: the hashed vector never loses occurrences
      val fromDocs = Tables(spark, sf, "documents")
        .select(explode(GroupC.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "").count()
      val fromVecs = out.agg(sum("n_tokens")).collect()(0).getLong(0)
      assert(fromVecs == fromDocs, s"$fromVecs hashed vs $fromDocs tokens")
    } finally out.unpersist()
  }

  test("d67 exact-substring ranges: adjacent spans merge, disjoint blocks stay separate") {
    val p = (1 to 16).map(i => s"p$i").mkString(" ")
    val r = (1 to 16).map(i => s"r$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, p + " q1 q2 q3 q4 " + r), // two disjoint shared blocks
      (2L, p),                       // the p-block alone
      (3L, r),                       // the r-block alone
      (4L, p + " " + r),             // adjacent blocks → ONE merged range
      (5L, (1 to 20).map(i => s"u$i").mkString(" ")) // all unique
    )).toDF("doc_id", "text")
    val got = GroupD.exactSubstringOf(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(got.sameElements(Seq(
      (1L, 36L, 2L, 32L, 8888L),   // ⌊32·10⁴/36⌋
      (2L, 16L, 1L, 16L, 10000L),
      (3L, 16L, 1L, 16L, 10000L),
      (4L, 32L, 1L, 32L, 10000L),  // [0,15] ∪ [16,31] merged
      (5L, 20L, 0L, 0L, 0L))), got.mkString(", "))
  }

  test("d58/d59/d67 never throw on adversarial text and keep their bounds") {
    import org.apache.spark.sql.functions._
    // fixed-seed adversarial corpus: empty, whitespace, unicode, quotes,
    // regex metachars, very long repeats — the byte-walk fuzz discipline
    // applied to the text operators
    val rnd = new scala.util.Random(1212)
    val alphabets = Seq(
      "", " ", "\t\n", "a", "ß∂ƒ©˙∆˚¬", "'; DROP TABLE--", "\\d+.*[a-z]",
      "🙂🙃", "a b" * 200, (0 until 50).map(_ => rnd.nextPrintableChar()).mkString)
    val docs = spark.createDataFrame(
      alphabets.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, if (i % 2 == 0) "en" else "fr",
          if (i % 3 == 0) "src0" else "src1")
      }).toDF("doc_id", "text", "lang", "source")
    val d59 = GroupD.boilerplateSpans(docs.select("doc_id", "text")).collect()
    assert(d59.length == alphabets.length)
    assert(d59.forall(r => r.getLong(5) >= 0L && r.getLong(5) <= 10000L),
      "retention_fp out of range")
    val d67 = GroupD.exactSubstringOf(docs.select("doc_id", "text")).collect()
    assert(d67.length == alphabets.length)
    assert(d67.forall(r => r.getLong(4) >= 0L && r.getLong(4) <= 10000L),
      "dup_fp out of range")
    // d58 requires (doc_id, text, lang, source); scores stay in (0, 10⁶]
    val d58 = GroupD.lmScore(docs).collect()
    assert(d58.forall(r => r.getLong(3) > 0L && r.getLong(3) <= 1000000L),
      "lm_score_fp out of range")
  }

  test("d59 boilerplate spans: a span shared by two docs is flagged in both, tail spans kept") {
    val eight = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, eight + " u1 u2 u3 u4"),                    // shared 8 + unique 4
      (2L, eight),                                     // exactly the shared span
      (3L, (1 to 10).map(i => s"v$i").mkString(" "))   // all unique, 8+2 split
    )).toDF("doc_id", "text")
    val got = GroupD.boilerplateSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.sameElements(Seq(
      (1L, 2L, 1L, 12L, 4L, 3333L),   // ⌊4·10⁴/12⌋
      (2L, 1L, 1L, 8L, 0L, 0L),
      (3L, 2L, 0L, 10L, 10L, 10000L))),
      got.mkString(", "))
  }
}
