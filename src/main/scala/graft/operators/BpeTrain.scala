package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Distributed BPE merge-pair training (Sennrich et al. 2015,
  * arXiv:1508.07909) — the tokenizer-TRAINING counterpart to the
  * encode-only path (q157): learn the merge table itself from the
  * corpus. No reference implementation; driver-mandated text-analysis
  * extension.
  *
  * The classic formulation iterates: count adjacent symbol pairs,
  * merge the most frequent pair everywhere, repeat. Re-expressed for
  * 100 TB:
  *
  *  - **The state is the UNIQUE-WORD frame, not the corpus.** One
  *    shuffle builds (word, count) — 10⁷-row class at any corpus
  *    size — and every training round runs on that frame alone. The
  *    corpus is scanned exactly once.
  *  - **The rounds run on the driver, over the collected frame.** The
  *    distributed pre-aggregate then the small-state merge loop is the
  *    UDA contract of the reference median (update → merge →
  *    finalize). The (ws, c) frame is collected once; the driver holds
  *    O(unique words × symbols) — the frame a per-round Spark loop
  *    would checkpoint every round, and how production tokenizer
  *    trainers hold it. `train` therefore runs the same number of
  *    Spark jobs for 1 round as for 8.
  *  - **Pair counts are kept, not recounted.** Round 1 counts every
  *    adjacent symbol pair, weighted by its word's `c` (a `Long`).
  *    After a merge only the words whose string contains the chosen
  *    pair are touched: their old pairs are subtracted, the word is
  *    rewritten, their new pairs are added.
  *  - **The argmax is Spark's `ORDER BY n DESC, pair`:** highest count,
  *    ties to the smaller pair in UTF-8 byte order
  *    ([[org.apache.spark.unsafe.types.UTF8String.compareTo]], not
  *    UTF-16 `String.compareTo` — the two disagree above U+FFFF).
  *  - **Merging is a string rewrite.** Words are encoded as
  *    pipe-delimited symbol strings (`"abc"` -> `"|a| |b| |c|"`) by
  *    Spark's `split(word, "")`; applying merge (a, b) is
  *    `replace(ws, "|a| |b|", "|ab|")` — non-overlapping
  *    left-to-right, IDENTICAL semantics in Spark, the JVM's
  *    `String.replace` and ANSI SQL (the q167 oracle replays every
  *    round byte-for-byte), and equal to the greedy left-fold on the
  *    symbol list because the boundary spaces are not shared between
  *    adjacent matches.
  *
  * Tokens containing the `|` sentinel are excluded on both sides (the
  * encoding would be ambiguous); real deployments pick a
  * non-colliding sentinel or pre-escape.
  */
object BpeTrain {

  /** One learned merge: the pair in symbol-string form (`"|a| |b|"`),
    * the merged symbol (`"|ab|"`), and its weighted count. */
  final case class Merge(round: Int, pair: String, merged: String, n: Long)

  /** (word, c) unique-word frame — the only corpus-wide pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "" && !col("word").contains("|"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))

  /** Pipe-delimited symbol encoding of a word column. */
  def encodeSymbols(word: Column): Column =
    concat(lit("|"), array_join(split(word, ""), "| |"), lit("|"))

  /** Apply learned merges, in training order, to a pipe-encoded
    * symbol column — the same engine-identical `replace` semantics
    * the training loop uses. */
  def applyMerges(ws: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(ws)((c, m) =>
      call_function("replace", c, lit(m.pair), lit(m.merged)))

  /** Per-document token counts under a trained merge list — the
    * ENCODE side of the tokenizer lifecycle (train = [[train]],
    * deterministic id assignment = the q157 vocab path). The
    * unique-word frame is encoded ONCE (map-only replace chain over
    * |vocab| rows, not |corpus| tokens); document tokens then join
    * word → symbol-count on the word key — a shuffle join on `word`,
    * the right shape when the unique-word frame is too large to
    * broadcast at corpus scale. Words containing the `|` sentinel are
    * excluded exactly as in training. Returns
    * (idCol, n_words, n_bpe_tokens). */
  def encodeCounts(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[Merge]): DataFrame = {
    val words = wordCounts(docs, textCol)
      .select(col("word"),
        size(split(applyMerges(encodeSymbols(col("word")), merges), " "))
          .cast("long").as("n_sym"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .where(col("word") =!= "" && !col("word").contains("|"))
      .join(words, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
  }

  /** Learn `rounds` merges from `docs(textCol)`, stopping early when
    * every word is one symbol. */
  def train(docs: DataFrame, textCol: String, rounds: Int): Seq[Merge] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val rows = wordCounts(docs, textCol)
      .select(encodeSymbols(col("word")).as("ws"), col("c")).collect()
    val ws = rows.map(_.getString(0))
    val c = rows.map(_.getLong(1))
    val pairs = mutable.HashMap.empty[String, Long]
    def addPairs(w: String, weight: Long): Unit = {
      val s = w.split(" ", -1)
      var i = 1
      while (i < s.length) {
        pairs.updateWith(s(i - 1) + " " + s(i)) { n =>
          val m = n.getOrElse(0L) + weight
          if (m == 0L) None else Some(m)
        }
        i += 1
      }
    }
    ws.indices.foreach(i => addPairs(ws(i), c(i)))

    val merges = Seq.newBuilder[Merge]
    var r = 1
    while (r <= rounds && pairs.nonEmpty) {
      var pair: String = null
      var n = 0L
      pairs.foreach { case (p, pn) =>
        if (pn > n || (pn == n && UTF8String.fromString(p)
            .compareTo(UTF8String.fromString(pair)) < 0)) {
          pair = p
          n = pn
        }
      }
      val merged = pair.replace("| |", "")
      merges += Merge(r, pair, merged, n)
      ws.indices.foreach { i =>
        if (ws(i).contains(pair)) {
          addPairs(ws(i), -c(i))
          ws(i) = ws(i).replace(pair, merged)
          addPairs(ws(i), c(i))
        }
      }
      r += 1
    }
    merges.result()
  }
}
