package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{StructField, StructType}

/** One immutable run of rows in a table snapshot — either heap-resident
  * (purely in-memory catalogs, and the O(delta) insert tail of a
  * row-level commit) or a parquet DATA FILE on disk (every bulk write
  * of a durable catalog). The file variant is what makes the catalog's
  * data plane exist at 100 TB: a snapshot is a LIST OF FILE REFERENCES
  * (the Delta/Iceberg shape), never an in-heap row array. */
private[sources] sealed trait RowSeg {
  def count: Long
}
private[sources] final case class MemSeg(rows: Vector[InternalRow])
    extends RowSeg {
  override def count: Long = rows.length.toLong
}
/** `path` is the absolute data-file path; `count` its exact row count;
  * `stats` the file's own column statistics — all recorded at write
  * time (the write task folds them while streaming), so split
  * planning, CBO, and FILE-LEVEL SKIPPING never open a file.
  * `partVals` is the ONE partition-transform output tuple every row in
  * the file shares (partitioned tables only): what partition pruning
  * plans against before stats are even consulted. */
private[sources] final case class FileSeg(path: String, count: Long,
    stats: Option[CommitStats] = None,
    partVals: Option[Vector[Any]] = None,
    specId: Int = 0) extends RowSeg

/** One segment of the LIVE view of a snapshot: the immutable segment
  * plus the row-level overlay accumulated by later `WriteDelta`
  * commits — `dels` (sorted PHYSICAL positions deleted from this
  * segment) and `patches` (physical position -> replacement row, the
  * UPDATE overlay). The in-memory mirror of a position-delete file
  * sitting next to a data file. */
private[sources] final case class LiveSeg(seg: RowSeg,
    dels: Vector[Long], patches: Map[Long, InternalRow]) {
  def liveCount: Long = seg.count - dels.length
}

private[sources] object LiveSeg {
  def raw(seg: RowSeg): LiveSeg = LiveSeg(seg, Vector.empty, Map.empty)
}

/** An immutable table snapshot: an ordered vector of overlaid
  * segments. Row POSITIONS (the `__pos` row id the delta protocol
  * addresses) index the LIVE ordering — surviving rows in segment
  * order, deletions compacted out — so positions shift exactly as the
  * previous array-based store's did and every recorded [[VRowDelta]]
  * replays bit-identically. */
private[sources] final case class Snap(segs: Vector[LiveSeg]) {

  lazy val count: Long = segs.iterator.map(_.liveCount).sum

  /** Live global position -> (segment index, physical local position).
    * Physical = live-local shifted past the segment's sorted
    * deletions (each deletion at-or-before the cursor shifts it by
    * one). */
  def locate(p: Long): (Int, Long) = {
    require(p >= 0 && p < count, s"position $p outside snapshot of $count")
    var i = 0
    var rem = p
    while (rem >= segs(i).liveCount) { rem -= segs(i).liveCount; i += 1 }
    val dels = segs(i).dels
    var phys = rem
    var k = 0
    while (k < dels.length && dels(k) <= phys) { phys += 1; k += 1 }
    (i, phys)
  }

  /** Batch-resolve live positions to their current rows (patched).
    * One pass per TOUCHED file segment — a delta commit or a CDF read
    * resolving its pre-images scans only the files it actually hits,
    * and each of those once. Returned rows are stable copies. */
  def rowsAt(positions: Seq[Long], schema: StructType)
      : Map[Long, InternalRow] = {
    if (positions.isEmpty) return Map.empty
    val located = positions.distinct.map(p => (p, locate(p)))
    val out = Map.newBuilder[Long, InternalRow]
    located.groupBy(_._2._1).foreach { case (si, group) =>
      val ls = segs(si)
      // patched positions never touch the backing segment
      val (patched, backed) = group.partition(g =>
        ls.patches.contains(g._2._2))
      patched.foreach { case (p, (_, phys)) => out += p -> ls.patches(phys) }
      if (backed.nonEmpty) ls.seg match {
        case MemSeg(rows) =>
          backed.foreach { case (p, (_, phys)) => out += p -> rows(phys.toInt) }
        case FileSeg(path, _, _, _, _) =>
          val wanted = backed.map { case (p, (_, phys)) => phys -> p }.toMap
          val maxPhys = wanted.keys.max
          val it = ParquetRowIO.open(path, schema)
          try {
            var phys = 0L
            while (it.hasNext && phys <= maxPhys) {
              val r = it.next()
              wanted.get(phys).foreach(p => out += p -> r.copy())
              phys += 1
            }
          } finally it.close()
      }
    }
    out.result()
  }

  /** Live rows in position order. File-backed rows stream at the
    * requested schema and are VOLATILE (valid until the next step —
    * copy to retain, the [[ParquetRowIO]] contract); heap rows are the
    * stable stored ones, possibly at a historical prefix arity. */
  def iterator(schema: StructType): Iterator[InternalRow] =
    segs.iterator.flatMap { ls =>
      val base: Iterator[InternalRow] = ls.seg match {
        case MemSeg(rows) => rows.iterator
        case FileSeg(path, _, _, _, _) => ParquetRowIO.open(path, schema)
      }
      overlaid(ls, base, identity)
    }

  /** Live rows in position order, read at a PRUNED schema: row field
    * `j` holds column `cols(j)` of `schema`. File segments read only
    * those columns' pages; heap rows and patches are projected (NULL
    * past a historical prefix arity). Rows are VOLATILE, as with
    * [[iterator]]. */
  def columns(schema: StructType, cols: Seq[Int]): Iterator[InternalRow] = {
    val pruned = StructType(cols.map(schema(_)))
    val idx = cols.toArray
    val dts = idx.map(schema(_).dataType)
    def project(r: InternalRow): InternalRow = {
      val vals = new Array[Any](idx.length)
      var j = 0
      while (j < idx.length) {
        if (idx(j) < r.numFields && !r.isNullAt(idx(j)))
          vals(j) = r.get(idx(j), dts(j))
        j += 1
      }
      new GenericInternalRow(vals)
    }
    segs.iterator.flatMap { ls =>
      val base: Iterator[InternalRow] = ls.seg match {
        case MemSeg(rows) => rows.iterator.map(project)
        case f: FileSeg => ParquetRowIO.open(f.path, pruned)
      }
      overlaid(ls, base, project)
    }
  }

  /** Overlay iterator. NEVER reads ahead of the row it hands out:
    * file-backed base rows are VOLATILE (the reader reuses one
    * buffer), so a prefetch inside `next()` would silently overwrite
    * the row the caller is still holding — the returned row is valid
    * until the caller's next `hasNext`/`next`, exactly the
    * [[ParquetRowIO]] contract the underlying iterator gives.
    * `patchView` maps a patch row to the caller's view of the row
    * (identity for full rows, a projection for pruned reads). */
  private def overlaid(ls: LiveSeg, base: Iterator[InternalRow],
      patchView: InternalRow => InternalRow): Iterator[InternalRow] =
    if (ls.dels.isEmpty && ls.patches.isEmpty) base
    else new Iterator[InternalRow] {
      private var phys = -1L
      private var pending: InternalRow = _
      private var delIdx = 0
      private def fill(): Unit =
        while (pending == null && base.hasNext) {
          val r = base.next()
          phys += 1
          if (delIdx < ls.dels.length && ls.dels(delIdx) == phys) delIdx += 1
          else pending = ls.patches.get(phys).fold(r)(patchView)
        }
      override def hasNext: Boolean = { fill(); pending != null }
      override def next(): InternalRow = {
        fill()
        val r = pending
        pending = null
        r
      }
    }
}

private[sources] object Snap {
  val empty: Snap = Snap(Vector.empty)

  def base(segs: Vector[RowSeg]): Snap = Snap(segs.map(LiveSeg.raw))

  /** Apply one version delta — the generalization of the old
    * row-vector fold to overlaid segments. Row-level deltas translate
    * their GLOBAL live positions (the recorded/logged form, unchanged)
    * into per-segment physical deletions and patches; inserts append
    * as a heap segment (O(delta) by the protocol's nature). */
  def applyDelta(prev: Snap, d: VDelta): Snap = d match {
    case VBase(segs) => base(segs)
    case VRewrite(segs) => base(segs) // content-identical re-layout
    case VAppend(segs) => Snap(prev.segs ++ segs.map(LiveSeg.raw))
    case da: VDropAdd =>
      // partition overwrite / compaction: named (or tuple-matched,
      // post-expiry) files leave WITH their overlays; every kept
      // segment keeps its overlay object untouched
      Snap(prev.segs.filterNot(ls => da.drops(ls.seg)) ++
        da.add.map(LiveSeg.raw))
    case VMarker => prev
    case _: VSpecChange => prev
    case VRowDelta(deletes, updates, inserts) =>
      val n = prev.segs.length
      val newDels = Array.fill(n)(Vector.newBuilder[Long])
      val newPatch = Array.fill(n)(Map.newBuilder[Long, InternalRow])
      deletes.foreach { p =>
        val (si, phys) = prev.locate(p)
        newDels(si) += phys
      }
      updates.foreach { case (p, r) =>
        val (si, phys) = prev.locate(p)
        newPatch(si) += phys -> r
      }
      val segs = prev.segs.zipWithIndex.map { case (ls, si) =>
        val addDel = newDels(si).result()
        val addPatch = newPatch(si).result()
        if (addDel.isEmpty && addPatch.isEmpty) ls
        else {
          val dels = (ls.dels ++ addDel).sorted
          // a newly-deleted position sheds any previous patch
          val patches = (ls.patches ++ addPatch) -- addDel
          LiveSeg(ls.seg, dels, patches)
        }
      }
      val withIns =
        if (inserts.isEmpty) segs
        else segs :+ LiveSeg.raw(MemSeg(inserts))
      Snap(withIns)
  }
}
