package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.jobsDuring
import graft.queries.Tables

/** Cold training cost in Spark jobs: a k-means fit and a PQ codebook
  * train each launch exactly ONE job (the training-row collect), whatever
  * k, the iteration count or the number of subspaces — Lloyd runs on the
  * driver. The corpus k-means sizes k from the parquet footer's row
  * count, so it adds no count job; over a directory of part files it
  * counts once per path.
  */
class TrainingJobCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def vectors = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    .select("vec_id", "embedding")

  for (k <- Seq(3, 31); iters <- Seq(1, 3))
    test(s"a cold KMeans.fit (k=$k, iters=$iters) launches exactly one Spark job") {
      val v = vectors
      v.schema // building the frame runs schema inference — not a training cost
      val jobs = jobsDuring(KMeans.fit(v, k, iters))
      assert(jobs.size == 1, s"fit ran ${jobs.size} jobs: $jobs")
    }

  test("a cold corpusKMeans (d27, d39) launches exactly one Spark job: n comes from the footer") {
    // a fresh copy of the fixture: a path no memo has seen
    val dir = TestSpark.tempDir("cold-kmeans")
    java.nio.file.Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val jobs = jobsDuring(graft.queries.GroupD.corpusKMeans(spark, dir.toString))
    assert(jobs.size == 1, s"corpusKMeans ran ${jobs.size} jobs: $jobs")
  }

  test("corpusKMeans over a directory of part files counts it once: a second call runs no job") {
    val dir = TestSpark.tempDir("dir-kmeans")
    vectors.repartition(2).write.parquet(dir.resolve("embeddings.parquet").toString)
    val first = jobsDuring(graft.queries.GroupD.corpusKMeans(spark, dir.toString))
    assert(first.size > 1, s"the first call ran ${first.size} jobs: $first")
    val second = jobsDuring(graft.queries.GroupD.corpusKMeans(spark, dir.toString))
    assert(second.isEmpty, s"the second call ran ${second.size} jobs: $second")
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
