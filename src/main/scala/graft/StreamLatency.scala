package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.operators.Bm25
import graft.sources.Tables
import graft.streaming.{StreamAnnProbe, StreamNearDup}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-latency evidence harness: drives the three production
  * streaming paths (near-dup sketch store, ANN probe serving, BM25
  * index maintenance) over the fixture feed in fixed micro-batches and
  * records PER-MICRO-BATCH processing time via a
  * [[StreamingQueryListener]] — the number a serving SLA is written
  * against, which the batch-equivalence specs deliberately don't
  * measure. Artifact builds (IVF-PQ) are paid BEFORE the probe stream
  * starts, as in production where the index is a scheduled-ETL output.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... runMain graft.StreamLatency
  * [outFile.json]` — prints one JSON object and optionally writes it.
  */
object StreamLatency {

  private final case class BatchRec(batchId: Long, rows: Long, ms: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = GraftSession.defaultCores
    val outFile = args.headOption
    val spark = GraftSession.build("graft-stream-latency", cpus)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // query-id -> recorded batches (progress events arrive async)
    val recs = mutable.Map.empty[String, mutable.Buffer[BatchRec]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) recs.synchronized {
          recs.getOrElseUpdate(p.id.toString, mutable.Buffer.empty) +=
            BatchRec(p.batchId, p.numInputRows,
              p.durationMs.getOrDefault("triggerExecution", -1L))
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    def drive[T : org.apache.spark.sql.Encoder](label: String,
        feed: Seq[Seq[T]], toFrame: MemoryStream[T] => DataFrame,
        start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery)
        : (String, Seq[BatchRec]) = {
      val mem = MemoryStream[T]
      val q = start(toFrame(mem))
      feed.foreach { batch =>
        mem.addData(batch: _*)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      // progress events post asynchronously after the last batch
      var waited = 0
      def seen = recs.synchronized {
        recs.get(q.id.toString).map(_.size).getOrElse(0) }
      while (seen < feed.count(_.nonEmpty) && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
      label -> recs.synchronized {
        recs.get(q.id.toString).map(_.toVector).getOrElse(Vector.empty) }
    }

    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val docBatches = docs.grouped(math.max(1, docs.size / 10)).toSeq

    // 1. near-dup sketch store: per-row sketch + partitioned sink
    val ndStore = Files.createTempDirectory("graft_lat_nd_store").toString
    val ndCkpt = Files.createTempDirectory("graft_lat_nd_ckpt").toString
    val nd = drive[(Long, String)]("neardup_sketch_store", docBatches,
      m => m.toDF().toDF("doc_id", "text"),
      df => StreamNearDup.startSketchStore(df, ndStore, ndCkpt))

    // 2. ANN probe serving against the persisted IVF-PQ artifact —
    // build it first (scheduled-ETL posture), then stream probes
    SparkEntry.queries("q108_ivfpq_search")(spark, sfDir).count()
    val probes = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") < 40)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val annStore = Files.createTempDirectory("graft_lat_ann_store").toString
    val annCkpt = Files.createTempDirectory("graft_lat_ann_ckpt").toString
    val ann = drive[(Long, Seq[Float])]("ann_probe_serving",
      probes.grouped(math.max(1, probes.size / 8)).toSeq,
      m => m.toDF().toDF("vec_id", "embedding"),
      df => StreamAnnProbe.startProbe(df, sfDir, annStore, annCkpt))

    // 3. BM25 index maintenance: per-batch delta index folded into the
    // accumulated artifact (the StreamIndexSpec merge chain)
    var acc: Option[DataFrame] = None
    val idx = drive[(Long, String)]("bm25_index_maintenance", docBatches,
      m => m.toDF().toDF("doc_id", "text"),
      df => df.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val delta = Bm25.buildIndex(
            batch.select(col("doc_id"), split(col("text"), " ").as("t")),
            "doc_id", "t", 100)
          acc = Some(graft.queries.FrameMemo.checkpointed(
            acc.map(a => Bm25.mergeIndex(a, delta)).getOrElse(delta)))
          acc.get.count()
          ()
        }
      }.start())

    def streamJson(r: (String, Seq[BatchRec])): String = {
      val (label, batches) = r
      val ms = batches.map(_.ms)
      val bj = batches.map(b =>
        s"""{"batch":${b.batchId},"rows":${b.rows},"trigger_ms":${b.ms}}""")
        .mkString("[", ",", "]")
      val max = if (ms.isEmpty) -1 else ms.max
      val mean = if (ms.isEmpty) -1 else ms.sum / ms.size
      s""""$label":{"n_batches":${batches.size},"max_trigger_ms":$max,""" +
        s""""mean_trigger_ms":$mean,"batches":$bj}"""
    }

    val json = s"""{"sf":"$sfDir","cpus":$cpus,"streams":{""" +
      Seq(nd, ann, idx).map(streamJson).mkString(",") + "}}"
    println(json)
    outFile.foreach(f => Files.writeString(Paths.get(f), json + "\n"))
    spark.stop()
  }
}
