package graft.operators

/** The one lazy-holder memo shared by every model trainer (KMeans,
  * PqIndex, AnnTuning) and the per-corpus memos of the declared queries:
  * `putIfAbsent` publishes the HOLDER, and the `lazy val` runs the thunk
  * under the holder's own initialization lock, so concurrent callers of
  * the same key share exactly one training run (the round-4 fix — a
  * plain computeIfAbsent would hold the map's bin lock across a
  * multi-second Spark training action).
  */
private[graft] final class LazyMemo[T](thunk: () => T) {
  lazy val value: T = thunk()
}

private[graft] object LazyMemo {
  /** Memoize `thunk` under `key` in `map` — one evaluation per key,
    * concurrent duplicate holders discarded unevaluated. */
  def memoized[T](
      map: java.util.concurrent.ConcurrentHashMap[String, LazyMemo[T]],
      key: String)(thunk: => T): T = {
    val fresh = new LazyMemo(() => thunk)
    val prior = map.putIfAbsent(key, fresh)
    (if (prior != null) prior else fresh).value
  }
}
