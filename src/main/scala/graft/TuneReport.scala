package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnTuning

/** Diagnostic: print the ANN tuning ladder (candidate fraction + estimated
  * top-1 recall per config) and the chosen configs for a corpus.
  * `tools/run_main.sh graft.TuneReport [sfDir]`
  */
object TuneReport {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sample = AnnTuning.sampleVectors(e, 500)
    println(s"corpus: $sfDir, sample: ${sample.count()} of ${e.count()}")
    val lsh = AnnTuning.lshStats(sample)
    println("LSH ladder (tables x bits +probes -> directed work fraction, est recall):")
    lsh.foreach(s => println(
      f"  ${s.config.tables}%2d x ${s.config.bits}%2d +${s.config.probes}%d -> frac=${s.candidateFraction}%.4f rec=${s.estRecall}%.3f"))
    println(s"  chosen: ${AnnTuning.choose(lsh, 0.9, 0.25)}")
    val ivf = AnnTuning.ivfStats(e, sample)
    println("IVF ladder (stride, probes -> scanned fraction, est recall):")
    ivf.foreach(s => println(
      f"  (${s.config.stride}%2d, ${s.config.probes}%d) -> frac=${s.candidateFraction}%.4f rec=${s.estRecall}%.3f"))
    println(s"  chosen: ${AnnTuning.choose(ivf, 0.65, 0.25)}")
    spark.stop()
  }
}
