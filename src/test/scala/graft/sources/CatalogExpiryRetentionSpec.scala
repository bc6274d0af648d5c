package graft.sources

import graft.SparkTestBase

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Retention (expireBefore) with commits RETAINED ABOVE the
  * consolidation point — the cases where consolidation rewrites the
  * snapshot into freshly-named files (the expired-at version carries a
  * row-level overlay; an overlay-free one is kept by reference) and the
  * retained suffix must still re-apply exactly:
  *
  *  1. a retained PARTITION OVERWRITE (kind-6 drop-add) removes files
  *     by name; consolidation renames everything, so removal must
  *     match by partition TUPLE or the overwritten partition's rows
  *     resurrect and duplicate the overwrite's rows;
  *  2. a retained ROW-LEVEL DELTA addresses live POSITIONS; the
  *     consolidated base must preserve version `before`'s live row
  *     ORDER even when partitions interleave across segments (per-
  *     tuple merging would reorder and the delta would patch the
  *     wrong rows);
  *  3. the same two invariants hold on COLD REPLAY (reopen from the
  *     log), not just on the live refold;
  *  4. a same-JVM commit racing a partition overwrite's read snapshot
  *     aborts loudly (the version anchor), mirroring the cross-process
  *     conflict path;
  *  5. an ALTER aborted by a commit conflict rolls `_schema.json`
  *     back — a restart must NOT replay the aborted schema change.
  */
class CatalogExpiryRetentionSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_exp").toString

  private val schema = StructType(Seq(
    StructField("grp", StringType), StructField("k", LongType),
    StructField("v", StringType)))

  private def row(grp: String, k: Long, v: String): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(grp), k, UTF8String.fromString(v)))

  private def writeFile(dir: java.nio.file.Path, grp: String,
      rows: Seq[InternalRow]): FileRef = {
    val name = s"exp-${java.util.UUID.randomUUID().toString.take(12)}.parquet"
    val w = ParquetRowIO.writer(dir.resolve("data").resolve(name).toString,
      schema)
    val acc = new CommitStats.Acc(schema)
    rows.foreach { r => w.write(r); acc.add(r) }
    val n = w.close()
    FileRef(name, n, Some(acc.result),
      Some(Vector(UTF8String.fromString(grp))))
  }

  private def freshTable(name: String): (java.nio.file.Path, MemStore) = {
    val dir = java.nio.file.Paths.get(root, name)
    val log = CommitLog.create(dir, schema, MemStore.nowMicros(),
      partSpec = Seq(PIdentity("grp")))
    (dir, new MemStore(schema, Some(log)))
  }

  private def liveRows(st: MemStore): Seq[(String, Long, String)] = {
    val (snap, _) = st.currentState()
    snap.iterator(st.schema).map(r =>
      (r.getUTF8String(0).toString, r.getLong(1),
        r.getUTF8String(2).toString)).toVector
  }

  private def reopen(dir: java.nio.file.Path): MemStore =
    MemStore.replayFrom(CommitLog.open(dir))

  private def append(st: MemStore, dir: java.nio.file.Path,
      files: Seq[FileRef]): Unit = {
    val merged = files.flatMap(_.stats)
      .reduceLeft(CommitStats.merge)
    st.commitFiles(files, merged, FileCommit.Append)
  }

  test("retained partition overwrite survives expiry below it (tuple-matched drop)") {
    val (dir, st) = freshTable("t_owexp")
    // v1: a + b, v2: a + b (so 'b' spans two files)
    append(st, dir, Seq(
      writeFile(dir, "a", Seq(row("a", 0, "x0"), row("a", 1, "x1"))),
      writeFile(dir, "b", Seq(row("b", 2, "x2"), row("b", 3, "x3")))))
    append(st, dir, Seq(
      writeFile(dir, "a", Seq(row("a", 4, "x4"))),
      writeFile(dir, "b", Seq(row("b", 5, "x5")))))
    // v3: a row-level update overlays an 'a' file, so consolidating
    // v3 must rewrite (and rename) the snapshot
    st.applyRowDelta(Nil, Seq((0L, row("a", 0, "x0u"))), Nil)
    // v4: overwrite partition 'b' with fresh rows
    val (snap, readVer) = st.currentStateVersioned()
    val bNames = snap.segs.map(_.seg).collect {
      case f: FileSeg if f.partVals.get.head.toString == "b" =>
        java.nio.file.Paths.get(f.path).getFileName.toString
    }.toSet
    assert(bNames.size == 2)
    st.overwriteFiles(bNames,
      Seq(writeFile(dir, "b", Seq(row("b", 100, "NEW")))), readVer)
    val expected = Seq(
      ("a", 0L, "x0u"), ("a", 1L, "x1"), ("a", 4L, "x4"), ("b", 100L, "NEW"))
    assert(liveRows(st).sorted == expected, liveRows(st).toString)

    // expire BELOW the overwrite: consolidation renames every file;
    // the retained drop-add must still remove partition b's rows
    st.expireBefore(3)
    assert(st.currentState()._1.segs.map(_.seg).collect {
      case f: FileSeg if f.partVals.get.head.toString == "a" => f.path
    }.forall(_.contains("base-v3")), "the overlaid base must be rewritten")
    assert(liveRows(st).sorted == expected,
      s"live refold resurrected overwritten rows: ${liveRows(st)}")
    val cold = reopen(dir)
    assert(liveRows(cold).sorted == expected,
      s"cold replay resurrected overwritten rows: ${liveRows(cold)}")
    // CDF across the boundary: the overwrite version shows exactly
    // the pre-overwrite 'b' rows as deletes and the fresh row inserted
    val cdf = cold.changes(4, 4)
    assert(cdf.count(_._1 == "delete") == 3, cdf.toString)
    assert(cdf.count(_._1 == "insert") == 1, cdf.toString)
  }

  test("retained row-level delta re-applies exactly after expiry (order-preserving consolidation)") {
    val (dir, st) = freshTable("t_ordexp")
    // interleaved partitions across two appends: live order
    // a1(k0,k1) b1(k2,k3) a2(k4,k5) b2(k6,k7) — per-tuple merging
    // would reorder to a(0,1,4,5) b(2,3,6,7)
    append(st, dir, Seq(
      writeFile(dir, "a", Seq(row("a", 0, "r"), row("a", 1, "r"))),
      writeFile(dir, "b", Seq(row("b", 2, "r"), row("b", 3, "r")))))
    append(st, dir, Seq(
      writeFile(dir, "a", Seq(row("a", 4, "r"), row("a", 5, "r"))),
      writeFile(dir, "b", Seq(row("b", 6, "r"), row("b", 7, "r")))))
    // v3: delete position 0 (k=0) — an overlay, so consolidating v3
    // must rewrite the snapshot
    st.applyRowDelta(Seq(0L), Nil, Nil)
    // v4: delete position 1 (k=2), update position 3 (k=4 -> UPD)
    st.applyRowDelta(Seq(1L), Seq((3L, row("a", 4, "UPD"))), Nil)
    val expected = liveRows(st)
    assert(expected.map(_._2).toSet == Set(1L, 3L, 4L, 5L, 6L, 7L))
    assert(expected.find(_._2 == 4L).get._3 == "UPD")

    // expire BELOW the delta: the consolidated base must keep the
    // interleaved live order or the delta patches the wrong rows
    st.expireBefore(3)
    assert(liveRows(st) == expected,
      s"live refold corrupted rows: ${liveRows(st)} vs $expected")
    val cold = reopen(dir)
    assert(liveRows(cold) == expected,
      s"cold replay corrupted rows: ${liveRows(cold)} vs $expected")
    // consolidation stayed partition-pure: every file single-tuple,
    // so pruning/SPJ survive order-preserving mode
    cold.currentState()._1.segs.map(_.seg).foreach {
      case f: FileSeg => assert(f.partVals.isDefined)
      case _ => ()
    }
  }

  test("same-JVM commit racing a partition overwrite aborts (version anchor)") {
    val (dir, st) = freshTable("t_race")
    append(st, dir, Seq(
      writeFile(dir, "a", Seq(row("a", 0, "x"))),
      writeFile(dir, "b", Seq(row("b", 1, "x")))))
    val (snap, readVer) = st.currentStateVersioned()
    val bNames = snap.segs.map(_.seg).collect {
      case f: FileSeg if f.partVals.get.head.toString == "b" =>
        java.nio.file.Paths.get(f.path).getFileName.toString
    }.toSet
    // a concurrent same-JVM append lands between the read and the
    // overwrite's commit
    append(st, dir, Seq(
      writeFile(dir, "b", Seq(row("b", 99, "racer")))))
    val ow = writeFile(dir, "b", Seq(row("b", 100, "NEW")))
    val e = intercept[java.util.ConcurrentModificationException] {
      st.overwriteFiles(bNames, Seq(ow), readVer)
    }
    assert(e.getMessage.contains("advanced"), e.getMessage)
    // nothing committed: the racer's row is alive
    assert(liveRows(st).exists(_._2 == 99L))
    assert(!liveRows(st).exists(_._2 == 100L))
  }

  test("ALTER aborted by a conflicting commit rolls _schema.json back") {
    val (dir, st) = freshTable("t_alter")
    append(st, dir, Seq(
      writeFile(dir, "a", Seq(row("a", 0, "x")))))
    val w2 = reopen(dir) // second driver, at v1
    // w1 lands a REPLACE at v2 — non-append, so w2's ALTER must abort
    val repl = writeFile(dir, "a", Seq(row("a", 10, "y")))
    st.commitFiles(Seq(repl), repl.stats.get, FileCommit.Replace)
    val widened = schema.add(StructField("extra", LongType))
    intercept[java.util.ConcurrentModificationException] {
      w2.evolveSchema(widened)
    }
    // the aborted ALTER must leave no durable trace: _schema.json
    // still holds the old schema and a cold replay agrees
    val cold = reopen(dir)
    assert(cold.schema.fieldNames.toSeq == Seq("grp", "k", "v"),
      cold.schema.treeString)
    assert(liveRows(cold) == Seq(("a", 10L, "y")))
  }
}
