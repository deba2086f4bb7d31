package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.TestSpark
import graft.queries.Tables

/** The persisted-model round-trip contract (round-8 verdict #3): every
  * learned artifact (k-means centroids, PQ codebooks, tuned ANN configs,
  * sketch bytes) must train → save → load back BIT-IDENTICAL, and the
  * loaded model must SERVE — through the same memoized entry points the
  * queries use — with zero training jobs. The reference provider persists
  * its configuration and reloads it across runs
  * (/root/reference/src/CSVProvider.cs:363-454); these are the engine's
  * equivalent of that durable setup.
  */
class ModelStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def vectors = Tables(spark, sf, "embeddings")
    .select("vec_id", "embedding")

  /** Run `body` inside a dedicated job group and return the description of
    * every Spark job submitted UNDER THAT GROUP. Group-tagging (rather
    * than slicing the event stream between fences) keeps the count immune
    * to async jobs from other sources — broadcast-exchange threads of a
    * previous action can post unlabeled jobs at any time. Jobs `body`
    * itself triggers (a retrain, a scan) run on the calling thread, so
    * they carry the group. A sentinel action flushes the async listener
    * bus before reading.
    */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(js.properties.getProperty("spark.jobGroup.id", "") + "|" +
          js.properties.getProperty("spark.job.description", ""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("__modelstore_body", "model-serving window")
      try body finally sc.clearJobGroup()
      sc.setJobDescription("__modelstore_post")
      spark.range(1).count()
      sc.setJobDescription(null)
      eventually(timeout(Span(30, Seconds)), interval(Span(50, org.scalatest.time.Milliseconds))) {
        assert(seen.asScala.exists(_.endsWith("|__modelstore_post")))
      }
      seen.asScala.filter(_.startsWith("__modelstore_body|"))
    } finally sc.removeSparkListener(l)
  }
  private implicit class QAsScala(q: ConcurrentLinkedQueue[String]) {
    def asScala: Seq[String] = {
      val it = q.iterator(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
  }

  test("kmeans: save → clearMemo → load+install serves bit-identical with zero jobs") {
    val dir = TestSpark.tempDir("ms-km").toString
    KMeans.clearMemo()
    val trained = KMeans.fitMemoized("ms-km-corpus", vectors, k = 4, iters = 3)
    ModelStore.saveKMeans(spark, dir, trained)
    KMeans.clearMemo()
    val loaded = ModelStore.loadKMeans(spark, dir, vectors)
    // doubles round-trip through parquet as raw IEEE bits — exact equality
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      trained.centroids.map(_.toSeq).toSeq)
    assert(loaded.wcss == trained.wcss)
    // the lazily re-derived assignments equal the trained ones exactly
    assert(loaded.assignments.orderBy("vec_id").collect().toSeq ==
      trained.assignments.orderBy("vec_id").collect().toSeq)
    // serving path: install, then the queries' entry point must return the
    // installed instance without ANY Spark job (no retrain, no scan)
    KMeans.install("ms-km-corpus", k = 4, iters = 3, model = loaded)
    var served: KMeans.Model = null
    val vecs = vectors // building the frame runs schema inference — not a serving cost
    val jobs = jobsDuring {
      served = KMeans.fitMemoized("ms-km-corpus", vecs, k = 4, iters = 3)
    }
    assert(served eq loaded, "memo must serve the installed model instance")
    assert(jobs.isEmpty, s"serving an installed model ran Spark jobs: $jobs")
  }

  test("pq: codebooks round-trip bit-identical and serve with zero jobs") {
    val nv = vectors.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as float))").as("nvec"))
    PqIndex.clearMemo()
    val trained = PqIndex.train("ms-pq-corpus", nv, m = 4, k = 4, iters = 2)
    val dir = TestSpark.tempDir("ms-pq").toString
    ModelStore.savePq(spark, dir, trained)
    PqIndex.clearMemo()
    val loaded = ModelStore.loadPq(spark, dir)
    assert(loaded.dim == trained.dim && loaded.sub == trained.sub)
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq) ==
      trained.codebooks.map(_.map(_.toSeq).toSeq))
    PqIndex.install("ms-pq-corpus", m = 4, k = 4, iters = 2, model = loaded)
    var served: PqIndex.Model = null
    val jobs = jobsDuring {
      served = PqIndex.train("ms-pq-corpus", nv, m = 4, k = 4, iters = 2)
    }
    assert(served eq loaded)
    assert(jobs.isEmpty, s"serving an installed PQ model ran Spark jobs: $jobs")
  }

  test("tuned LSH + IVF decisions round-trip exactly and serve with zero jobs") {
    AnnTuning.clearMemo()
    val e = vectors.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val lsh = AnnTuning.tunedLsh(e, "ms-ann-corpus", maxSample = 200)
    val ivf = AnnTuning.tunedIvf(e, "ms-ann-corpus", maxSample = 200)
    val dir = TestSpark.tempDir("ms-ann").toString
    ModelStore.saveLsh(spark, dir, lsh)
    ModelStore.saveIvf(spark, dir, ivf)
    AnnTuning.clearMemo()
    val lshLoaded = ModelStore.loadLsh(spark, dir)
    val ivfLoaded = ModelStore.loadIvf(spark, dir)
    assert(lshLoaded == lsh) // case-class equality: config + stats + n, exact
    assert(ivfLoaded == ivf)
    AnnTuning.installLsh("ms-ann-corpus", lshLoaded, maxSample = 200)
    AnnTuning.installIvf("ms-ann-corpus", ivfLoaded, maxSample = 200)
    var servedL: AnnTuning.Tuned[AnnTuning.LshConfig] = null
    var servedI: AnnTuning.Tuned[AnnTuning.IvfConfig] = null
    val jobs = jobsDuring {
      servedL = AnnTuning.tunedLsh(e, "ms-ann-corpus", maxSample = 200)
      servedI = AnnTuning.tunedIvf(e, "ms-ann-corpus", maxSample = 200)
    }
    assert((servedL eq lshLoaded) && (servedI eq ivfLoaded))
    assert(jobs.isEmpty, s"serving installed tuning decisions ran Spark jobs: $jobs")
  }

  test("d41 sketch and d63 merges: a repeat build on the same corpus trains nothing") {
    import graft.queries.GroupD
    // both queries train eagerly at build time; the first builds fill the
    // memos (or hit entries an earlier suite filled)
    GroupD.d41BigramNoveltyCms(spark, sf)
    GroupD.d63BpeTrain(spark, sf)
    val jobs = jobsDuring {
      GroupD.d41BigramNoveltyCms(spark, sf)
      GroupD.d63BpeTrain(spark, sf)
    }
    assert(jobs.isEmpty, s"a repeat d41/d63 build ran Spark jobs: $jobs")
    // non-vacuous: with the BPE memo dropped, the same build does train
    GroupD.clearBpeMemo()
    val retrain = jobsDuring { GroupD.d63BpeTrain(spark, sf) }
    assert(retrain.nonEmpty, "a fresh d63 build must run its training jobs")
  }

  test("sketch bytes round-trip exactly (CMS estimates identical)") {
    import org.apache.spark.util.sketch.CountMinSketch
    val occ = Tables(spark, sf, "documents")
      .select(xxhash64(col("text")).as("h"))
    val bytes = graft.functions.CmsCount.serialized(occ, "h")
    val dir = TestSpark.tempDir("ms-cms").toString
    ModelStore.saveSketch(spark, dir, bytes)
    val back = ModelStore.loadSketch(spark, dir)
    assert(java.util.Arrays.equals(bytes, back))
    val a = CountMinSketch.readFrom(bytes)
    val b = CountMinSketch.readFrom(back)
    val probes = occ.limit(20).collect().map(_.getLong(0))
    probes.foreach(h => assert(a.estimateCount(h) == b.estimateCount(h)))
  }
}
