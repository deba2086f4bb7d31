package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.MediaRender
import graft.queries.GroupD._
import graft.queries.MediaRenderReference._

/** Differential pin of the [[MediaRender]] kernel against the interpreted
  * construction it replaced ([[MediaRenderReference]], evaluated by
  * Spark): for every (family, layout) a media hub renders, zero byte
  * differences over every doc_id of the sf0.001–sf0.1 fixtures, the ids
  * 0..100 000 (the `% 17` junk ids among them) and the negative ids
  * −2 000..−1 (truncating `div`/`%`). Each is checked through three
  * paths: interpreted evaluation, generated projections, and whole-stage
  * codegen with the interpreted fallback switched off. Around the
  * mixer's defined range the kernel equals the reference on the last
  * defined id and is NULL one family step past it, where the reference's
  * checked arithmetic throws; NULL in is NULL out.
  */
class MediaRenderDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** (hub, family, layout, reference bits SQL, reference content SQL). */
  private val cases = Seq(
    ("d78", BmpFamily, MediaRender.Bmp, bitsExpr(BmpFamily), bmpContentExpr),
    ("d79", BmpFamily, MediaRender.Bmp18, bitsExpr(BmpFamily), bmp18ContentExpr),
    ("d81", BmpFamily, MediaRender.Bmp18Bmp, bitsExpr(BmpFamily),
      bmp18OrBmpContentExpr),
    ("d82", WavFamily, MediaRender.Wav, bitsExpr(WavFamily), wavContentExpr),
    ("d84", PngFamily, MediaRender.Png, bitsExpr(PngFamily), pngContentExpr),
    ("d85", Y4mFamily, MediaRender.Y4m, bitsExpr(Y4mFamily), y4mContentExpr),
    ("d86", XfmtFamily, MediaRender.BmpPng, bitsExpr(XfmtFamily), xfmtContentExpr),
    ("d87", GifFamily, MediaRender.Gif, bitsExpr(GifFamily), gifContentExpr),
    ("d88", D88Family, MediaRender.BmpRowShift, d88BitsExpr, d88ContentExpr))

  private def ids: DataFrame = {
    val fixtures = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => Tables(spark, s"/root/testdata/$sf", "documents").select("doc_id"))
    (fixtures :+ spark.range(-2000L, 100001L, 1L, 4).toDF("doc_id"))
      .reduce(_ unionByName _).distinct()
  }

  /** (doc_id) rows over an RDD scan — a local relation would let the
    * optimizer fold projections on the driver, away from codegen. */
  private def idFrame(ids: Seq[java.lang.Long]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_)), 2),
      StructType(Seq(StructField("doc_id", LongType))))

  /** (doc_id, ref): the reference bytes, bits materialized first so the
    * content walk reads them instead of re-inlining the transform. */
  private def reference(frame: DataFrame, bits: String, content: String): DataFrame = {
    val b = frame.select(col("doc_id"), expr(bits).as("bits"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val r = b.select(col("doc_id"), expr(content).as("ref"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    } finally b.unpersist(blocking = true)
  }

  /** `body` under the given SQL confs, restoring the previous values. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The three evaluation paths as SQL confs; adaptive execution off so
    * the planned plan is the executed one and shows its codegen stages. */
  private val paths: Seq[(String, Seq[(String, String)])] = Seq(
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "whole-stage" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false")
  ).map { case (p, c) => p -> (c :+ ("spark.sql.adaptive.enabled" -> "false")) }

  /** Ids where the kernel's bytes differ from `ref`, in one path. */
  private def diffs(ref: DataFrame, kernel: Column, path: String): Array[Long] = {
    val df = ref.select(col("doc_id"), col("ref"), kernel.as("got"))
    val inStage = df.queryExecution.executedPlan
      .collect { case w: WholeStageCodegenExec => w }
      .exists(_.toString.contains(MediaRender.Name))
    assert(inStage == (path == "whole-stage"), s"$path plan:\n${df.queryExecution.executedPlan}")
    df.filter(!(col("got") <=> col("ref"))).select("doc_id").collect().map(_.getLong(0))
  }

  for ((hub, family, layout, bits, content) <- cases)
    test(s"$hub: kernel bytes equal the reference in every path ($layout)") {
      val ref = reference(ids, bits, content)
      try {
        val n = ref.count()
        assert(n == 102001, s"$n ids")
        assert(ref.filter(col("ref").isNull).count() == 0, "the reference rendered a NULL")
        for ((path, confs) <- paths) withConfs(confs: _*) {
          val bad = diffs(ref, family.render(layout), path)
          assert(bad.isEmpty, s"$hub/$path: ${bad.length} of $n ids differ, e.g. " +
            bad.sorted.take(5).mkString(", "))
        }
      } finally ref.unpersist(blocking = true)
    }

  test("the kernel is NULL exactly outside the reference's defined range") {
    for ((hub, f, layout, bits, content) <- cases) {
      val qMax = (Long.MaxValue - 63 * f.kMult - f.add) / f.mult
      val qMin = Long.MinValue / f.mult
      // the last ids whose quotient is in range, and the first past them
      val inside = Seq(qMax * f.fam + f.fam - 1, qMin * f.fam - (f.fam - 1))
      val outside = Seq((qMax + 1) * f.fam, (qMin - 1) * f.fam)
      val frame = idFrame((inside ++ outside).map(Long.box))
      for ((path, confs) <- paths) withConfs(confs: _*) {
        val got = frame.select(col("doc_id"), f.render(layout).as("got")).collect()
          .map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]](1))).toMap
        outside.foreach(id => assert(got(id).isEmpty, s"$hub/$path: id $id rendered"))
        inside.foreach(id => assert(got(id).isDefined, s"$hub/$path: id $id is NULL"))
      }
      val ref = reference(idFrame(inside.map(Long.box)), bits, content)
      try withConfs(paths.last._2: _*) {
        assert(diffs(ref, f.render(layout), "whole-stage").isEmpty, s"$hub at the range edge")
      }
      finally ref.unpersist(blocking = true)
      for (id <- outside) {
        val e = intercept[Exception](
          idFrame(Seq(id)).select(expr(bits).as("bits")).collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW")),
          s"$hub: id $id: $e")
      }
    }
  }

  test("NULL doc_id renders NULL in every path") {
    val frame = idFrame(Seq(null, 1L))
    for ((hub, f, layout, _, _) <- cases; (path, confs) <- paths) withConfs(confs: _*) {
      val got = frame.select(f.render(layout)).collect().map(r => Option(r.get(0)))
      assert(got.head.isEmpty && got(1).isDefined, s"$hub/$path")
    }
  }
}
