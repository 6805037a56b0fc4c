package graft.text

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}
import graft.tables.GraftTable

/** Persisted dedup index semantics: reopen-from-storage equivalence to
  * the in-session incremental pipeline, append maintenance (a dedup
  * after append sees earlier batches), banded layout, and the
  * n-from-properties contract. */
class DedupIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def d = Tables.t(spark, sf, "documents").select("doc_id", "text")

  private def batchOf(mod: Int, idOffset: Long, tail: String) =
    d.filter(col("doc_id") % mod === 0)
      .select((col("doc_id") + idOffset).as("doc_id"),
        concat(col("text"), lit(tail)).as("text"))

  test("a reopened index dedups identically to the in-session pipeline") {
    val path = scratch("dedupidx1")
    DedupIndex.build(d, path, n = 5)
    val batch = batchOf(15, 500000, " tail x")
    val viaTable = DedupIndex.dedupBatch(GraftTable.load(spark, path), batch, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val inSession = DedupOps.incrementalJaccardPairs(
        DedupOps.shingleTable(d, 5), batch, n = 5, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaTable == inSession)
    assert(viaTable.nonEmpty, "planted near-copies must be found")
  }

  test("append maintains the index: later batches dedup against earlier ones") {
    val path = scratch("dedupidx2")
    DedupIndex.build(d, path, n = 5)
    val t = GraftTable.load(spark, path)
    val first = batchOf(30, 500000, " tail y")
    DedupIndex.append(t, first)
    // second batch = near-copies of the FIRST batch (ids 700000+): only
    // an index that absorbed the append can pair them
    val second = first.select((col("doc_id") + 200000).as("doc_id"),
      concat(col("text"), lit(" z")).as("text"))
    val pairs = DedupIndex.dedupBatch(t, second, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    val vsFirst = pairs.filter { case (d1, d2, _) =>
      d1 >= 500000 && d1 < 700000 && d2 >= 700000 }
    assert(vsFirst.nonEmpty,
      s"appended batch postings must be probe-visible; got ${pairs.take(5)}")
  }

  test("append supersedes a re-ingested id instead of merging versions") {
    val path = scratch("dedupidx5")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    DedupIndex.build(corpus, path, n = 3)
    val t = GraftTable.load(spark, path)
    // doc 1 re-ingested with doc 2's text: its old postings must vanish
    DedupIndex.append(t, Seq((1L, "one two three four five six"))
      .toDF("doc_id", "text"))
    // probe with a copy of that text: BOTH docs must pair at exactly 1.0
    // — a merged v1+v2 shingle set for doc 1 would dilute its jaccard
    val probe = Seq((9L, "one two three four five six")).toDF("doc_id", "text")
    val pairs = DedupIndex.dedupBatch(t, probe, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((1L, 9L, 1.0), (2L, 9L, 1.0)), s"got $pairs")
  }

  test("the table partitions by shingle band") {
    val path = scratch("dedupidx3")
    val t = DedupIndex.build(d.limit(200), path, n = 5, numBands = 8)
    val bands = t.read().select("__band").distinct()
      .as[Int].collect().toSet
    assert(bands.subsetOf((0 until 8).toSet) && bands.size > 1,
      s"expected multiple balanced bands in 0..7, got $bands")
    // band partitioning must reach the file layout: pruning to one band
    // keeps a strict subset of files
    val (kept, _) = t.pruneFiles(s"__band = ${bands.head}")
    assert(kept.nonEmpty && kept.size < t.filesAt().size)
  }

  test("ingest-loop compaction bounds file count with probes still green") {
    // the q218 production loop accretes one file set per micro-batch
    // append; periodic OPTIMIZE of the index table must compact them
    // band-partition-aware (output files must not straddle band dirs —
    // a band-oblivious coalesce writes tasks × bands tiny files) and
    // leave probe results identical
    val path = scratch("dedupidx6")
    val corpus = d.filter(col("doc_id") < 100)
    val numBands = 4
    val t = DedupIndex.build(corpus, path, n = 5, numBands = numBands)
    (0 until 5).foreach { i =>
      DedupIndex.append(t, batchOf(7, 500000 + i * 10000, s" batch$i tail"))
    }
    val accreted = t.filesAt().size
    assert(accreted > numBands * 2,
      s"appends should accrete files before compaction, got $accreted")
    val probe = batchOf(7, 800000, " batch0 tail")
    val before = DedupIndex.dedupBatch(t, probe, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    graft.tables.Maintenance.optimize(t)
    val after = t.filesAt().size
    // compacted: at most one file per band dir (+1 slack for a
    // boundary-straddling range-partition task)
    assert(after <= numBands + 1,
      s"compaction must bound files to ~numBands, got $after (from $accreted)")
    // every written file lives in exactly one band dir
    val perBandDirs = t.filesAt().groupBy(f =>
      "__part___band=\\d+".r.findFirstIn(f).getOrElse("?"))
    assert(!perBandDirs.contains("?"), s"unpartitioned file in $perBandDirs")
    val reprobe = DedupIndex.dedupBatch(GraftTable.load(spark, path), probe, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(reprobe == before, "compaction must not change probe results")
    assert(reprobe.nonEmpty)
  }

  test("append writes one file per non-empty band from at most one task per core") {
    val path = scratch("dedupidx7")
    val t = DedupIndex.build(d.filter(col("doc_id") < 100), path, n = 5, numBands = 32)
    val before = t.filesAt().toSet
    val batch = batchOf(7, 900000, " fanout tail")
    val (activity, _) = graft.SparkActivity.during(spark)(DedupIndex.append(t, batch))
    val cores = spark.sparkContext.defaultParallelism
    assert(activity.stageTasks.nonEmpty && activity.stageTasks.max <= cores,
      s"no append stage may run more tasks than the $cores cores: ${activity.stageTasks}")
    val added = (t.filesAt().toSet -- before).toSeq
    val perBand = added.groupBy(f =>
      "__part___band=(\\d+)".r.findFirstMatchIn(f).map(_.group(1)).getOrElse("?"))
    val bands = t.read().filter(col("doc_id") >= 900000).select("__band").distinct()
      .as[Int].collect().map(_.toString).toSet
    assert(bands.size > cores, s"the batch must span more bands than cores: $bands")
    assert(perBand.keySet === bands, s"new files per band dir: ${perBand.keySet}")
    assert(perBand.values.forall(_.size == 1), s"exactly one new file per band: $perBand")
  }

  test("a non-index table is rejected with a clear error") {
    val path = scratch("dedupidx4")
    GraftTable.createFrom(spark, path, d.limit(5))
    val err = intercept[IllegalArgumentException] {
      DedupIndex.dedupBatch(GraftTable.load(spark, path),
        batchOf(15, 500000, " t"), 0.5)
    }
    assert(err.getMessage.contains("graft.dedup.n"))
  }
}
