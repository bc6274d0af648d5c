package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.BpeTrain.{Merge, encodeSymbols, wordCounts}

/** Reference BPE trainer: every round is Spark work — a weighted
  * adjacent-pair count, a 1-row `ORDER BY n DESC, pair LIMIT 1` argmax
  * and a `replace` over a per-round checkpointed (ws, c) frame. It is
  * the per-round loop [[BpeTrain.train]] replaced; specs pin the
  * driver-side trainer to it merge for merge. */
object BpeTrainRef {

  /** Adjacent-pair counts over an encoded (ws, c) frame, weighted by
    * word frequency. */
  def pairCounts(words: DataFrame): DataFrame = {
    val s = col("_syms")
    words
      .select(col("c"), split(col("ws"), " ").as("_syms"))
      .select(col("c"),
        when(size(s) >= 2,
          transform(sequence(lit(1), size(s) - 1),
            i => concat(element_at(s, i), lit(" "), element_at(s, i + 1))))
          .otherwise(array().cast("array<string>")).as("_prs"))
      .select(col("c"), explode_outer(col("_prs")).as("pair"))
      .where(col("pair").isNotNull)
      .groupBy(col("pair")).agg(sum(col("c")).as("n"))
  }

  def train(docs: DataFrame, textCol: String, rounds: Int): Seq[Merge] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import graft.queries.FrameMemo.checkpointed
    var words = checkpointed(wordCounts(docs, textCol)
      .select(encodeSymbols(col("word")).as("ws"), col("c")))
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = pairCounts(words)
        .orderBy(col("n").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        val pair = top.head.getString(0)
        val n = top.head.getLong(1)
        val merged = pair.replace("| |", "")
        merges += Merge(r, pair, merged, n)
        words = checkpointed(words
          .select(call_function("replace",
            col("ws"), lit(pair), lit(merged)).as("ws"), col("c")))
        r += 1
      }
    }
    merges.result()
  }
}
