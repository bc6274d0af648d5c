package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up for SCALE-EVIDENCE runs (e.g. a
  * synthetic sf1 = 10 x sf0.1): every fact table is replicated
  * `factor` times with key-space shifts that PRESERVE join integrity
  * (each copy's foreign keys point at that copy's dimension rows), so
  * per-query cost profiles scale with the data rather than with
  * artifacts of the replication:
  *
  *  - TPC-H-ish tables: copy c shifts every key by c * (max(key)+1);
  *    non-key attributes are kept verbatim, so predicate
  *    selectivities (date windows, segment filters) stay at their
  *    original fractions.
  *  - documents: copy 0 is verbatim; copy c > 0 suffixes EVERY token
  *    with `~c`. Each copy is then a self-contained corpus with the
  *    SAME internal duplicate/near-dup structure as the original and
  *    NO cross-copy k-gram or MinHash collisions — the near-dup pair
  *    count and substring-dup removal mass scale linearly, instead of
  *    every document acquiring 9 artificial clones (which would make
  *    the dedup families super-linear for data reasons, not plan
  *    reasons).
  *  - embeddings: copy c circularly rotates the vector by c
  *    components — norm and component distribution preserved, cosine
  *    direction decorrelated, so ANN cell occupancy scales instead of
  *    collapsing into 10-way duplicate stacks.
  *  - region/nation: fixed-size reference tables, copied as-is.
  *
  * Usage: `runMain graft.ScaleUp <inDir> <outDir> <factor>`.
  * Output is plain parquet per table, sized ~factor x input. This is
  * a TIMING corpus: correctness gates keep running against the
  * driver-generated fixtures; oracle replays still work here because
  * the oracle reads the SAME scaled parquet.
  */
object ScaleUp {

  private def copies(spark: SparkSession, factor: Int): DataFrame =
    spark.range(factor).select(col("id").cast("long").as("_c"))

  /** Replicate with per-copy shifts on the named key columns. */
  private def shifted(df: DataFrame, factor: Int,
      keyStrides: Map[String, Long]): DataFrame = {
    val cps = copies(df.sparkSession, factor)
    val crossed = df.crossJoin(broadcast(cps))
    df.columns.foldLeft(crossed) { (acc, c) =>
      keyStrides.get(c) match {
        case Some(stride) =>
          acc.withColumn(c, col(c) + col("_c") * stride)
        case None => acc
      }
    }.drop("_c")
  }

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <inDir> <outDir> <factor>")
    val Array(inDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = GraftSession.build("graft-scaleup")
    import spark.implicits._

    def in(t: String) = spark.read.parquet(s"$inDir/$t.parquet")
    def write(t: String, df: DataFrame, files: Int): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")

    // fixed-size reference tables: verbatim
    Seq("region", "nation").foreach(t => write(t, in(t), 1))

    val custS = stride(in("customer"), "c_custkey")
    val suppS = stride(in("supplier"), "s_suppkey")
    val partS = stride(in("part"), "p_partkey")
    val ordS = stride(in("orders"), "o_orderkey")
    write("customer", shifted(in("customer"), factor,
      Map("c_custkey" -> custS)), 2)
    write("supplier", shifted(in("supplier"), factor,
      Map("s_suppkey" -> suppS)), 1)
    write("part", shifted(in("part"), factor, Map("p_partkey" -> partS)), 2)
    write("orders", shifted(in("orders"), factor,
      Map("o_orderkey" -> ordS, "o_custkey" -> custS)), 4)
    write("lineitem", shifted(in("lineitem"), factor,
      Map("l_orderkey" -> ordS, "l_partkey" -> partS,
        "l_suppkey" -> suppS)), 8)
    write("events", shifted(in("events"), factor,
      Map("event_id" -> stride(in("events"), "event_id"))), 4)

    // documents: token-suffixed copies (see scaladoc)
    val docS = stride(in("documents"), "doc_id")
    val docs = in("documents").crossJoin(broadcast(copies(spark, factor)))
      .select(
        (col("doc_id") + col("_c") * docS).as("doc_id"),
        when(col("_c") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("~"), col("_c"))), " ")).as("text"),
        col("lang"), col("source"), col("_c"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("_c")
    write("documents", docs, 4)

    // embeddings: circularly rotated copies (see scaladoc). Rotation
    // is by `_c mod dim` — factors above the dimensionality wrap
    // (copy 64 of a 64-dim vector rotates by 0 again), keeping the
    // slice arithmetic valid at any factor
    val vecS = stride(in("embeddings"), "vec_id")
    val dim = in("embeddings").select(size(col("embedding")))
      .head().getInt(0)
    val rot = (col("_c") % dim).cast("int")
    val emb = in("embeddings").crossJoin(broadcast(copies(spark, factor)))
      .select(
        (col("vec_id") + col("_c") * vecS).as("vec_id"),
        when(rot === 0, col("embedding")).otherwise(concat(
          slice(col("embedding"), rot + 1, lit(dim) - rot),
          slice(col("embedding"), lit(1), rot)))
          .as("embedding"),
        col("label"))
    write("embeddings", emb, 2)

    val counts = Seq("lineitem", "orders", "documents", "embeddings",
      "events").map { t =>
      t -> spark.read.parquet(s"$outDir/$t.parquet").count()
    }
    println(counts.map { case (t, n) => s"$t=$n" }.mkString(" "))
    spark.stop()
  }
}
