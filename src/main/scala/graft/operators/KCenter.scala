package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection (Gonzalez 1985's 2-approximation
  * for the k-center problem; Sener & Savarese 2018 apply exactly this
  * rule to training-data selection as the "core-set approach") — pick
  * the point farthest from everything selected so far, k times. The
  * selected set is the DIVERSITY sample of an embedding corpus: the
  * anchor set a labeling budget, eval slice, or dedup-survivor quota
  * should spend itself on. No reference implementation; driver-
  * mandated LLM-pipeline extension.
  *
  * Design for 100 TB:
  *
  *  - **One corpus pass per round, k rounds.** Each round joins the
  *    corpus against the BROADCAST selected set (≤ k rows), takes a
  *    per-vector min of k squared distances (codegen'd higher-order
  *    functions over the quantized array), and reduces to ONE argmax
  *    row — the only thing the driver ever holds is the k selected
  *    ids.
  *  - **Exact integer distances.** Vectors are int8-quantized with
  *    the q59 scheme; squared L2 over integer components is exact
  *    BIGINT arithmetic (≤ dims·254² per pair), so the farthest-point
  *    argmax (distance desc, id asc) is deterministic,
  *    partitioning-invariant, and bit-replayable by the oracle.
  *  - The min-over-selected is `least`-shaped, monotone in rounds:
  *    `cachedMinDist = true` caches each round's min-distance column
  *    and folds only the NEWEST center in (one 1-row broadcast join
  *    per round instead of an r-row one — flat per-round cost in k,
  *    O(k·corpus) total work instead of O(k²·corpus)). The cached
  *    frame checkpoints per round through [[graft.queries.FrameMemo]]
  *    (it is read twice per round: argmax + next fold). At k = 8 the
  *    rejoin is cheaper than the cache write — the gate keeps the
  *    rejoin; use the cache for k in the hundreds. Both modes select
  *    identical centers (KCenterSpec pins equality — the argmax and
  *    tie-break are the same exact integers either way).
  */
object KCenter {

  /** Exact squared L2 between two equal-length BIGINT arrays. */
  def distSq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, d) => acc + d)

  /** Greedy selection of `k` centers from `vecs(idCol, vq)` (vq =
    * quantized BIGINT array), seeded with the minimum id. Returns an
    * 8-row-class local frame (round, idCol, dist_sq) where dist_sq is
    * the selection's distance to the previously selected set (NULL
    * for the seed). */
  def select(vecs: DataFrame, idCol: String, k: Int,
      cachedMinDist: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = vecs.sparkSession
    import spark.implicits._
    val seedRow = vecs.agg(min(col(idCol))).head()
    require(!seedRow.isNullAt(0),
      "KCenter.select: input frame is empty — nothing to select")
    val seed = seedRow.getLong(0)
    var selected = Vector[(Long, Long, Option[Long])]((1L, seed, None))
    var covered = false // argmax distance 0 => every point coincides

    // cached mode: (id, vq, mind) with mind = exact min distance to
    // the selected set so far — each round folds ONLY the newest
    // center (a 1-row broadcast), so per-round cost is flat in k
    def centerVq(id: Long) =
      broadcast(vecs.where(col(idCol) === id).select(col("vq").as("sq")))
    var mind: DataFrame = null
    if (cachedMinDist) {
      mind = graft.queries.FrameMemo.checkpointed(
        vecs.crossJoin(centerVq(seed))
          .select(col(idCol), col("vq"),
            distSq(col("vq"), col("sq")).as("mind")))
    }

    for (r <- 2 to k if !covered) {
      val next =
        if (cachedMinDist)
          mind.select(col(idCol), col("mind").as("dist"))
            .orderBy(col("dist").desc, col(idCol)).limit(1).head()
        else {
          val selDf = vecs.where(col(idCol).isin(selected.map(_._2): _*))
            .select(col("vq").as("sq"))
          vecs.crossJoin(broadcast(selDf))
            .select(col(idCol), distSq(col("vq"), col("sq")).as("d"))
            .groupBy(col(idCol)).agg(min(col("d")).as("dist"))
            .orderBy(col("dist").desc, col(idCol))
            .limit(1).head()
        }
      // a zero farthest distance means the selected set already covers
      // every vector (k > number of DISTINCT vectors): stop instead of
      // re-selecting an already-chosen point and emitting duplicates
      if (next.getLong(1) == 0L) covered = true
      else {
        val id = next.getLong(0)
        selected :+= ((r.toLong, id, Some(next.getLong(1))))
        if (cachedMinDist && r < k) {
          mind = graft.queries.FrameMemo.checkpointed(
            mind.crossJoin(centerVq(id))
              .select(col(idCol), col("vq"),
                least(col("mind"), distSq(col("vq"), col("sq"))).as("mind")))
        }
      }
    }
    selected.map { case (r, id, d) => (r, id, d) }
      .toDF("round", idCol, "dist_sq")
  }
}
