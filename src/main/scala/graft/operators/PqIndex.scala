package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Product-quantization codebooks for an embedding corpus: the vector
  * space is cut into `M` contiguous subspaces and each subspace gets a
  * `K`-entry codebook trained by [[KMeans.lloyd]] on that slice. Training
  * is ONE Spark job (the corpus's [[KMeans.trainingPoints]] collect, which
  * rejects a mixed-dimension corpus) plus driver-side Lloyd on slices of
  * those arrays for all M subspaces. The model is M·K·sub doubles,
  * MEMOIZED per corpus key, and every later use embeds the codebooks as
  * plan literals. `putIfAbsent` publishes a lazy holder so
  * training never runs inside a ConcurrentHashMap bin lock, and the key
  * carries every parameter the model depends on.
  */
object PqIndex {

  /** `codebooks(m)(j)` = centroid j of subspace m (each `sub` doubles). */
  final case class Model(dim: Int, sub: Int, codebooks: Seq[Array[Array[Double]]])

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, LazyMemo[Model]]()

  /** Train (or reuse) the codebooks for a corpus of L2-normalized vectors
    * (`vec_id`, `nvec: array<float>`). `key` must identify the corpus
    * (e.g. the sf dir or a test tag) — deterministic inputs make the
    * memoized model equal to a fresh retrain.
    */
  def train(key: String, nv: DataFrame, m: Int, k: Int, iters: Int): Model =
    LazyMemo.memoized(memo, s"$key|$m|$k|$iters")(doTrain(nv, m, k, iters))

  /** Test seam: drop every memoized model (e.g. to pin that a RETRAIN is
    * deterministic, which a memo hit would vacuously pass) — the same
    * seam AnnTuning provides.
    */
  def clearMemo(): Unit = memo.clear()

  /** Seed the memo with a persisted model ([[ModelStore.loadPq]]) so a
    * later [[train]] with the same parameters serves it without the
    * M-codebook training pass — [[KMeans.install]]'s twin.
    */
  def install(key: String, m: Int, k: Int, iters: Int, model: Model): Unit =
    memo.put(s"$key|$m|$k|$iters", new LazyMemo(() => model))

  private def doTrain(nv: DataFrame, m: Int, k: Int, iters: Int): Model = {
    val pts = KMeans.trainingPoints(nv.select(col("vec_id"), col("nvec").as("embedding")), k)
    require(pts.vecs.nonEmpty,
      "cannot train PQ codebooks on an empty corpus (no normalizable vectors)")
    val dim = pts.vecs(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    Model(dim, sub, (0 until m).map { i =>
      KMeans.lloyd(pts.copy(vecs = pts.vecs.map(_.slice(i * sub, (i + 1) * sub))), k, iters)._1
    })
  }
}
