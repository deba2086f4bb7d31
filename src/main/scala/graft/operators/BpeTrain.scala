package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deterministic byte-pair-encoding MERGE TRAINING — the iterative half of
  * the tokenizer story (d38 reports one round of pair statistics; this
  * learns the merge TABLE a tokenizer ships). The algorithm is the public
  * Sennrich et al. 2016 subword-BPE procedure with its standard corpus
  * trick: merges operate on the frequency-weighted word-TYPE table, never
  * the token stream — so after ONE corpus-scale aggregation (word counts,
  * reused from the d38 family), every training round is an aggregation
  * over a vocabulary-sized frame. At 100 TB the corpus pass is the only
  * corpus-bounded cost; N merge rounds cost N aggregations over ~10⁶ word
  * types regardless of corpus size.
  *
  * Determinism contract (the repo-wide no-RNG discipline): the argmax
  * pair breaks ties by (count desc, left asc, right asc), and the merge
  * application is the standard single left-to-right greedy pass,
  * expressed as a higher-order `aggregate` fold (append symbol, or
  * replace the just-appended left when the incoming symbol completes the
  * pair) — so reruns and fresh JVMs reproduce the identical merge table.
  *
  * Per-round lineage is truncated with an eager localCheckpoint
  * (ConnectedComponents' round discipline): without it, round r's pair
  * aggregation would recompute all r−1 previous folds.
  */
object BpeTrain {
  /** One learned merge: rank-th round chose (left, right) with this
    * frequency-weighted adjacent-pair count.
    */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** The seed tokenization — a word's initial symbol array. ONE
    * definition shared by train, both encode paths, and the specs: the
    * train/encode agreement contract rests on the seed rule never
    * diverging between them (review finding, round 13).
    */
  val SeedSymExpr: String = "filter(split(w, ''), x -> x <> '')"

  /** Train `merges` rounds over a (w: string, wc: long) word-frequency
    * frame. Symbols are the word's characters (the tokenizer's alnum
    * alphabet — no quoting hazards in the generated SQL literals, which
    * `sqlLit` still guards for safety).
    */
  def train(words: DataFrame, merges: Int): Seq[Merge] = {
    var seqs = words
      .select(col("wc"), expr(SeedSymExpr).as("sym"))
      .filter(size(col("sym")) >= 1)
      .localCheckpoint(true)
    val learned = Seq.newBuilder[Merge]
    var r = 1
    var exhausted = false
    try {
      while (r <= merges && !exhausted) {
        val top = seqs.filter(size(col("sym")) >= 2)
          .select(col("wc"), explode(expr(
            "transform(sequence(0, size(sym) - 2), " +
              "i -> struct(sym[i] AS s1, sym[i+1] AS s2))")).as("p"))
          .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
          .agg(sum("wc").as("cnt"))
          .orderBy(col("cnt").desc, col("s1"), col("s2"))
          .limit(1).collect()
        top.headOption match {
          case None => exhausted = true // every word is one symbol
          case Some(Row(s1: String, s2: String, cnt: Long)) =>
            learned += Merge(r, s1, s2, cnt)
            val q1 = sqlLit(s1); val q2 = sqlLit(s2)
            val prev = seqs
            seqs = seqs.withColumn("sym", expr(
              s"aggregate(sym, cast(array() as array<string>), (acc, x) -> " +
                s"IF(size(acc) > 0 AND element_at(acc, -1) = $q1 AND x = $q2, " +
                s"concat(slice(acc, 1, size(acc) - 1), array($q1 || $q2)), " +
                "concat(acc, array(x))))"))
              .localCheckpoint(true)
            free(prev)
            r += 1
          case Some(other) =>
            throw new IllegalStateException(s"unexpected pair row: $other")
        }
      }
      learned.result()
    } finally free(seqs)
  }

  /** A single-quoted SQL string literal for SPARK's lexer (default
    * C-style escapes, not ANSI quote-doubling — `''` would parse as two
    * concatenated empty literals): backslash-escape the two metachars.
    * The declared query only feeds alnum symbols; this guards the
    * public operator against arbitrary frames.
    */
  private def sqlLit(s: String): String =
    "'" + s.flatMap {
      case '\\' => "\\\\"
      case '\'' => "\\'"
      case c    => c.toString
    } + "'"

  /** APPLY a trained merge table — the encode half of the tokenizer
    * lifecycle (round 13): rewrites a symbol-array SQL expression
    * through the merges in rank order using the SAME left-to-right
    * greedy fold the trainer used, so an encoded corpus can never
    * disagree with the table's training dynamics. The result is a
    * rank-deep nested HOF chain compiled once per query; merge tables
    * are model-sized, and the expression embeds them as literals (the
    * NearestCentroid constant-plan discipline). For production-sized
    * tables (~10⁴ merges) the same per-merge fold runs as train's loop
    * does — one round per merge over the vocab frame with checkpoint
    * truncation — the nested form is for the bounded tables a query
    * embeds directly.
    */
  def encodeExpr(symExpr: String, ms: Seq[Merge]): String =
    ms.sortBy(_.rank).foldLeft(symExpr) { (inner, m) =>
      val q1 = sqlLit(m.left); val q2 = sqlLit(m.right)
      s"aggregate($inner, cast(array() as array<string>), (acc, x) -> " +
        s"IF(size(acc) > 0 AND element_at(acc, -1) = $q1 AND x = $q2, " +
        s"concat(slice(acc, 1, size(acc) - 1), array($q1 || $q2)), " +
        "concat(acc, array(x))))"
    }

  /** The loop-path encode for PRODUCTION-sized merge tables (round 13):
    * one fold round per merge over the vocab frame with localCheckpoint
    * lineage truncation — train's own loop shape, byte-identical
    * semantics to [[encodeExpr]]'s nested chain (spec-pinned). Use this
    * past a few dozen merges: a 10⁴-deep nested expression would blow
    * the analyzer/codegen, while N checkpointed rounds over a
    * vocab-sized frame are exactly what training already proved cheap.
    * Returns the input frame plus `sym` (the encoded symbol array);
    * `chunk` truncates lineage every that-many merges (each checkpoint
    * materializes the vocab frame once — batching trades peak lineage
    * depth against materializations).
    */
  def encode(words: DataFrame, ms: Seq[Merge], symCol: String = "sym",
      chunk: Int = 16): DataFrame = {
    require(chunk > 0, s"chunk must be positive, got $chunk")
    var cur = words.withColumn(symCol, expr(SeedSymExpr))
    val sorted = ms.sortBy(_.rank)
    var i = 0
    while (i < sorted.length) {
      val batch = sorted.slice(i, math.min(i + chunk, sorted.length))
      val prev = cur
      cur = cur.withColumn(symCol, org.apache.spark.sql.functions.expr(
        encodeExpr(symCol, batch))).localCheckpoint(true)
      // round 0's `prev` is a projection over the CALLER'S `words` —
      // its plan leaves (e.g. a checkpoint backing the caller's frame)
      // are not ours to unpersist (advice finding r13); only the
      // encode-owned checkpoints from round 1 on are freed
      if (i > 0) free(prev)
      i += chunk
    }
    cur
  }

  /** Release a round's checkpointed blocks eagerly (the loop holds only
    * the newest table; ConnectedComponents' block-freeing discipline).
    */
  private def free(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
}
