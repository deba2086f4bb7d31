package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Milliseconds, Seconds, Span}

import graft.TestSpark
import graft.queries.Tables

/** Cold training cost in Spark jobs: a k-means fit and a PQ codebook
  * train each launch exactly ONE job (the training-row collect), whatever
  * k, the iteration count or the number of subspaces — Lloyd runs on the
  * driver.
  */
class TrainingJobCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def vectors = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    .select("vec_id", "embedding")

  /** Descriptions of the Spark jobs `body` submits, tagged by a dedicated
    * job group (ModelStoreSpec's discipline: immune to async jobs from
    * other sources; a sentinel action flushes the listener bus).
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
      sc.setJobGroup("__training_body", "cold training window")
      try body finally sc.clearJobGroup()
      sc.setJobDescription("__training_post")
      spark.range(1).count()
      sc.setJobDescription(null)
      eventually(timeout(Span(30, Seconds)), interval(Span(50, Milliseconds))) {
        assert(seen.toArray.exists(_.toString.endsWith("|__training_post")))
      }
      seen.toArray.map(_.toString).filter(_.startsWith("__training_body|")).toSeq
    } finally sc.removeSparkListener(l)
  }

  for (k <- Seq(3, 31); iters <- Seq(1, 3))
    test(s"a cold KMeans.fit (k=$k, iters=$iters) launches exactly one Spark job") {
      val v = vectors
      v.schema // building the frame runs schema inference — not a training cost
      val jobs = jobsDuring(KMeans.fit(v, k, iters))
      assert(jobs.size == 1, s"fit ran ${jobs.size} jobs: $jobs")
    }

  test("a cold PqIndex.train (m=4) launches exactly one Spark job") {
    val nv = vectors.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as float))").as("nvec"))
    nv.schema
    PqIndex.clearMemo()
    val jobs = jobsDuring(PqIndex.train("jobcount-pq", nv, m = 4, k = 16, iters = 2))
    assert(jobs.size == 1, s"train ran ${jobs.size} jobs: $jobs")
  }
}
