package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** How often the stats heal rescans the result snapshot: at most once
  * per commit, for every column that lost an extreme together, and
  * never when added values reach every removed extreme again — the
  * MERGE shape over low-cardinality flag columns, whose updates remove
  * and re-add the same few values. */
class CommitStatsHealSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("orderkey", LongType),
    StructField("returnflag", StringType),
    StructField("linestatus", StringType),
    StructField("qty", IntegerType)))

  private def row(k: Long, rf: String, ls: String, q: Int): InternalRow =
    new GenericInternalRow(Array[Any](k, UTF8String.fromString(rf),
      UTF8String.fromString(ls), q))

  /** orderkey 1..40; returnflag cycles N, R, A; linestatus O, F; qty
    * 2..10 then 1 every tenth row. */
  private val base: Vector[InternalRow] = (1 to 40).map(i =>
    row(i, Seq("A", "N", "R")(i % 3), Seq("F", "O")(i % 2), i % 10 + 1))
    .toVector

  /** Heals `d` over [[base]] with a rescan callback that records the
    * columns of each call; checks the heal against a full rescan. */
  private def heal(d: VRowDelta): (CommitStats, Seq[Seq[Int]]) = {
    val result = VDelta.apply(base, d)
    val removed = d.deletes.map(p => base(p.toInt)) ++
      d.updates.map { case (p, _) => base(p.toInt) }
    val added = d.updates.map(_._2) ++ d.inserts
    val calls = Vector.newBuilder[Seq[Int]]
    val healed = CommitStats.applyDelta(CommitStats.of(base, schema), schema,
      removed, added, result.length.toLong, { cols =>
        calls += cols
        Snap.base(Vector(MemSeg(result))).columns(schema, cols)
      })
    def noOrder(s: CommitStats): CommitStats = CommitStats(s.count,
      s.cols.view.mapValues(_.copy(sortedAsc = false, sortedDesc = false)).toMap)
    assert(noOrder(healed) == noOrder(CommitStats.of(result, schema)))
    (healed, calls.result())
  }

  test("a MERGE whose new rows reach every removed extreme never rescans") {
    // rows 1..10 hold both extremes of every flag and of qty
    val updates = (0 until 10).toVector.map { p =>
      p.toLong -> row(p + 1, Seq("A", "R", "N")(p % 3), Seq("F", "O")(p % 2),
        Seq(1, 10, 5)(p % 3))
    }
    val (healed, calls) = heal(VRowDelta(Vector.empty, updates,
      Vector(row(41, "N", "O", 3), row(42, "R", "F", 7))))
    assert(calls.isEmpty, s"rescanned $calls")
    assert(healed.cols("orderkey").max.contains(42L))
  }

  test("a removed extreme that an added value reaches again heals from " +
      "the added values") {
    // the min orderkey's row is re-keyed below it; the only 'A' rows
    // are replaced, one by a new 'A'
    val aRows = base.indices.filter(i => base(i).getUTF8String(1).toString == "A")
    val updates = (0L -> row(0, "N", "O", 2)) +: aRows.map(p =>
      p.toLong -> row(p + 1, if (p == aRows.head) "A" else "N",
        Seq("F", "O")((p + 1) % 2), (p + 1) % 10 + 1)).toVector
    val (healed, calls) = heal(VRowDelta(Vector.empty, updates, Vector.empty))
    assert(calls.isEmpty, s"rescanned $calls")
    assert(healed.cols("orderkey").min.contains(0L))
    assert(healed.cols("returnflag").min.contains(UTF8String.fromString("A")))
  }

  test("a DELETE that removes several columns' extremes rescans once, " +
      "all of those columns together") {
    // orderkey 1 (the min key), 3 (an 'A' and an 'O'), 10 (qty 1, an 'F')
    val (healed, calls) = heal(VRowDelta(Vector(0L, 2L, 9L), Vector.empty,
      Vector.empty))
    assert(calls == Seq(Seq(0, 1, 2, 3)), s"rescans: $calls")
    assert(healed.cols("orderkey").min.contains(2L))
  }
}
