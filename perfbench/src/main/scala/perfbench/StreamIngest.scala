package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Tables
import graft.streaming.Expectations
import graft.tables.GraftTable
import graft.text.DedupIndex

/** `stream_ingest`: the q218 production loop. A [[DedupIndex]] (n = 5) is
  * built over `documents`; a running `readStream` query watches a source
  * directory, and each op lands one pre-generated file of ~200 docs there
  * and calls `processAllAvailable()` — one op is one micro-batch. About
  * half the docs are near-copies of corpus docs (they must die at
  * Jaccard 0.5), half are novel (they must survive), ~2% fail the
  * expectation. The `foreachBatch` body: `Expectations.quarantine`, the
  * dedup probe with its loser ids persisted, the survivors'
  * `GraftTable.append`, `DedupIndex.append`.
  *
  * Checks: re-probing the survivors under fresh ids kills all of them
  * (q218's in-gate property); `run.py` checks each op's survivors and
  * quarantine/loser counts against the generator's manifest, and all
  * survivors against a DuckDB batch recompute of exact 5-gram Jaccard
  * over the corpus and the landed batches. */
final class StreamIngest(ctx: Ctx) extends Workload {
  import ctx._
  import StreamIngest._

  private var idx: GraftTable = _
  private var survivors: GraftTable = _
  private var query: StreamingQuery = _
  private var bytesAtStart = 0L
  private val src = s"$tmp/stream-src"
  private val stage = s"$tmp/stream-stage"
  private val batches: IndexedSeq[Batch] = {
    val m = new ObjectMapper().readTree(Paths.get(data, "stream", "manifest.json").toFile)
    m.elements().asScala.map { b =>
      Batch(b.get("file").asText(), b.get("docs").asInt(), b.get("bad").asInt())
    }.toIndexedSeq
  }
  /** Per micro-batch: (op, quarantined, losers), recorded by the body. */
  private val seen = new ConcurrentHashMap[Long, (Long, Long, Long)]()
  private val rules = Seq(Expectations.expectOrDrop("has_text", "text IS NOT NULL"))

  private def corpus = Tables.t(spark, data, "documents").select("doc_id", "text")

  def setup(dir: String): Unit = {
    if (idx != null) GraftTable.deleteTree(Paths.get(idx.path).getParent)
    idx = DedupIndex.build(corpus, s"$dir/index", n = 5)
    survivors = GraftTable.create(spark, s"$dir/survivors", BatchSchema)
  }

  private def body(b: DataFrame, batchId: Long): Unit = {
    val op = tracer.op
    val (good, bad) = tracer.span("streaming.expectations") {
      val (g, q) = Expectations.quarantine(b, rules)
      (g, q.count())
    }
    val (losers, nLosers) = tracer.span("text.dedup_probe") {
      val l = DedupIndex.dedupBatch(idx, good, threshold = 0.5)
        .select(col("d2").as("doc_id")).distinct().persist()
      (l, l.count())
    }
    try {
      val probed = batches(op.toInt).docs - bad
      if (probed > 0) tracer.count("text.dedup_probe", "loser_ratio", nLosers.toDouble / probed)
      val kept = good.join(losers, Seq("doc_id"), "left_anti")
      Workload.logged(tracer, Seq(idx, survivors)) {
        val c = tracer.span("tables.append")(survivors.append(kept, "INGEST SURVIVORS"))
        tracer.count("tables.append", "output_bytes", Disk.files(survivors.path, c.addedFiles))
        tracer.span("text.index_append")(DedupIndex.append(idx, kept))
      }
      seen.put(batchId, (op, bad, nLosers))
    } finally losers.unpersist()
  }

  override def prepare(): Unit = {
    Files.createDirectories(Paths.get(src))
    Files.createDirectories(Paths.get(stage))
    batches.foreach(b => Files.copy(Paths.get(data, "stream", b.file), Paths.get(stage, b.file)))
    bytesAtStart = Disk.bytes(idx.path) + Disk.bytes(survivors.path)
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) tracer.progressed(Map("batch" -> p.batchId,
          "op" -> Option(seen.get(p.batchId)).map(_._1).getOrElse(-1L),
          "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
    query = spark.readStream.schema(BatchSchema).parquet(src)
      .writeStream
      .option("checkpointLocation", s"$tmp/stream-checkpoint")
      .foreachBatch((b: DataFrame, id: Long) => body(b, id))
      .start()
  }

  def op(i: Int): OpOut = {
    val b = batches(i)
    tracer.spanAcross("streaming.batch") {
      Files.move(Paths.get(stage, b.file), Paths.get(src, b.file), StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }
    OpOut("batch", rows = b.docs)
  }

  /** Re-probes the survivors under fresh ids (all must die) and leaves
    * the per-op survivor ids and body counts to `run.py`, which checks
    * them against the generator's manifest and a DuckDB batch recompute. */
  def finish(ops: Seq[OpRec]): Finish = {
    query.stop()
    val kept = survivors.read().select("doc_id").collect().map(_.getLong(0))
    val shifted = survivors.read().select((col("doc_id") + ReprobeShift).as("doc_id"), col("text"))
    val reprobeOk = shifted.join(DedupIndex.dedupBatch(idx, shifted, 0.5)
      .select(col("d2").as("doc_id")).distinct(), Seq("doc_id"), "left_anti").isEmpty
    val added = Disk.bytes(idx.path) + Disk.bytes(survivors.path) - bytesAtStart
    val input = ops.indices.map(i => Files.size(Paths.get(src, batches(i).file))).sum
    val body = seen.values().asScala.map { case (op, bad, losers) =>
      Map("op" -> op, "quarantined" -> bad, "losers" -> losers) }
    Finish(if (reprobeOk) Set.empty else ops.indices.toSet,
      Map("reprobe_kills_all" -> reprobeOk),
      Map("bytes_added" -> added.toDouble, "input_bytes" -> input.toDouble),
      Map("survivors" -> kept.sorted.toSeq, "batches" -> body.toSeq))
  }

  override def close(): Unit = if (query != null && query.isActive) query.stop()
}

object StreamIngest {
  val ReprobeShift = 100000000L
  val BatchSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  final case class Batch(file: String, docs: Int, bad: Int)
}
