package graft.sources

import scala.util.Random

import graft.SparkTestBase
import org.scalacheck.{Gen, Prop, Test}

/** The columnar read path against its row-path twin over random overlay
  * states. Each case drives two durable tables through the same random
  * statement sequence: an INSERT first (one multi-row-group file past
  * the split threshold when large), then DELETEs, UPDATEs to NULL and
  * string values, MERGEs that only insert (a heap insert tail) or
  * also update, ADD COLUMN (older heap rows and patches stay at a prefix
  * arity) and RENAME COLUMN (field-id mapping). Table `c` runs with the
  * columnar path on (`spark.graft.catalog.columnar.enabled`, so its DML
  * candidate scans and commit-time reads decode in batches), table `r`
  * with it off. Then:
  *
  *  - every probe over `c` — all rows, a pushed filter, a row-grain
  *    TABLESAMPLE, `__pos` beside the row — returns the same rows with
  *    the switch on as off (multisets; a `__pos` pair must match
  *    exactly);
  *  - `c` and `r` hold the same (`__pos`, row) pairs, so both paths'
  *    DML scans addressed the same rows, and report the same
  *    metadata-served count/min/max, so both paths healed the same
  *    stats. */
class ColumnarTwinSpec extends SparkTestBase {

  private val root =
    java.nio.file.Files.createTempDirectory("graft_coltwin").toString
  private val Switch = "spark.graft.catalog.columnar.enabled"

  private lazy val setup: Unit = {
    spark.conf.set("spark.sql.catalog.gctw", classOf[MemCatalog].getName)
    spark.conf.set("spark.sql.catalog.gctw.path", root)
  }

  /** Rendered rows, sorted: a multiset that prints on mismatch. */
  private def rows(sql: String, columnar: Boolean): Seq[String] =
    withConf(Switch -> columnar.toString) {
      spark.sql(sql).collect().map(_.toString).toSeq.sorted
    }

  /** One generated statement sequence, in table-neutral form: `%t` is
    * the table, column names are the current ones. */
  private final class Script(seed: Long) {
    private val rnd = new Random(seed)
    private var nextK = 0L
    private var vName = "v"
    private var added = Vector.empty[String]
    val stmts = Vector.newBuilder[String]

    private def cols: Seq[String] = Seq("k", vName, "s", "a") ++ added
    private def exprs(base: Long): String = (Seq(
      s"id + $base AS k",
      s"IF(id % 7 = 0, NULL, id * 3) AS $vName",
      s"IF(id % 5 = 0, NULL, concat('s', CAST(id AS STRING))) AS s",
      "IF(id % 11 = 0, NULL, array(CAST(id % 4 AS INT), " +
        "CAST(NULL AS INT))) AS a") ++
      added.map(c => s"id % 13 AS $c")).mkString(", ")
    private def pick: String = s"k % ${5 + rnd.nextInt(9)} = ${rnd.nextInt(5)}"

    def insert(large: Boolean): Unit = {
      val n = if (large) 8300 + rnd.nextInt(400) else 20 + rnd.nextInt(300)
      stmts += s"INSERT INTO %t SELECT /*+ REPARTITION(1) */ " +
        s"${exprs(nextK)} FROM RANGE($n)"
      nextK += n
    }

    private def merge(updating: Boolean): Unit = {
      val n = 1 + rnd.nextInt(40)
      // an updating MERGE also matches existing keys k % m = r
      val from = if (updating) 0L else nextK
      val srcRows = if (updating) nextK + n else n.toLong
      val m = 3 + rnd.nextInt(8)
      val src = s"SELECT ${exprs(from)} FROM RANGE($srcRows) " +
        s"WHERE id + $from >= $nextK OR (id + $from) % $m = 1"
      // a MATCHED clause even when nothing matches: an insert-only
      // MERGE plans as a plain append, this one as a row-level delta
      // whose inserts land as a heap tail
      stmts += s"MERGE INTO %t USING ($src) src ON %t.k = src.k " +
        s"WHEN MATCHED THEN UPDATE SET $vName = -src.$vName, " +
        "s = concat('m', src.s) WHEN NOT MATCHED THEN INSERT *"
      nextK += n
    }

    def step(kind: Int): Unit = kind match {
      case 0 => insert(large = false)
      case 1 => stmts += s"DELETE FROM %t WHERE $pick"
      case 2 => stmts += s"UPDATE %t SET $vName = NULL, " +
        s"s = 'u${rnd.nextInt(100)}' WHERE $pick"
      case 3 => stmts += s"UPDATE %t SET s = NULL, " +
        s"a = array(${rnd.nextInt(9)}) WHERE $pick"
      case 4 => merge(updating = false)
      case 5 => merge(updating = true)
      case 6 if added.length < 2 =>
        val c = s"c${added.length}"
        stmts += s"ALTER TABLE %t ADD COLUMN $c BIGINT"
        added :+= c
      case 7 =>
        val to = s"v${rnd.nextInt(1000)}"
        stmts += s"ALTER TABLE %t RENAME COLUMN $vName TO $to"
        vName = to
      case _ => stmts += s"DELETE FROM %t WHERE k = ${rnd.nextLong(nextK)}"
    }

    /** The probes: full rows, a pushed filter, a row-grain sample and
      * `__pos` beside the row. */
    lazy val probes: Seq[String] = Seq(
      "SELECT * FROM %t",
      s"SELECT k, s, $vName FROM %t WHERE k >= ${rnd.nextLong(nextK)} " +
        "AND s IS NOT NULL",
      s"SELECT k, a FROM %t TABLESAMPLE (10 PERCENT) " +
        s"REPEATABLE (${rnd.nextInt(100)})",
      s"SELECT __pos, ${cols.mkString(", ")} FROM %t")

    def stats: String = s"SELECT count(*), min(k), max(k), count($vName), " +
      s"min($vName), max($vName), min(s), max(s) FROM %t"
  }

  private val caseGen = Gen.zip(Gen.oneOf(true, false, false), Gen.long,
    Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.choose(0, 8))))

  private var caseNo = 0

  test("columnar reads match the row path over random overlay states") {
    setup
    val prop = Prop.forAllNoShrink(caseGen) { case (large, seed, kinds) =>
      caseNo += 1
      val script = new Script(seed)
      script.insert(large)
      kinds.foreach(script.step)
      val c = s"gctw.c$caseNo"
      val r = s"gctw.r$caseNo"
      Seq(c -> true, r -> false).foreach { case (t, columnar) =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, s STRING, " +
          "a ARRAY<INT>)")
        withConf(Switch -> columnar.toString) {
          script.stmts.result().foreach(q => spark.sql(q.replace("%t", t)))
        }
      }
      val onC = (q: String) => q.replace("%t", c)
      val probes = script.probes.map(onC)
      val same = probes.forall(q => rows(q, columnar = true) ==
        rows(q, columnar = false))
      val pos = script.probes.last
      val twins = rows(onC(pos), columnar = true) ==
        rows(pos.replace("%t", r), columnar = false) &&
        rows(onC(script.stats), columnar = true) ==
          rows(script.stats.replace("%t", r), columnar = false)
      Seq(c, r).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Prop(same && twins) :| s"case $caseNo: " +
        script.stmts.result().mkString("; ")
    }
    val prev = sys.props.get("graft.catalog.rowgroup.bytes")
    // small row groups: a large INSERT lands one file of many groups,
    // which the scan splits per group
    sys.props("graft.catalog.rowgroup.bytes") = (32 * 1024).toString
    val res = try Test.check(
      Test.Parameters.default.withMinSuccessfulTests(24).withWorkers(1),
      prop)
    finally prev match {
      case Some(v) => sys.props("graft.catalog.rowgroup.bytes") = v
      case None => sys.props.remove("graft.catalog.rowgroup.bytes")
    }
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
