package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.tables.{Commit, GraftTable, Maintenance, MergeOps}
import graft.tables.MergeOps.{InsertAll, UpdateAll, WhenMatched, WhenNotMatched}

/** `table_upsert`: one [[GraftTable]] seeded from `orders`, driven by a
  * seeded op log — point lookups (50%), MERGE upserts of ~500 rows half
  * matched / half new (20%), appends of ~500 new rows (10%), small
  * key-range deletes (10%), month range reads (5%), cold snapshot opens
  * (5%), dealt in shuffled rounds of 21 so every round holds the same
  * mix, each round closed by an OPTIMIZE ZORDER BY o_orderkey. Half the
  * lookup/merge keys are ones written in the last 20 ops, half are
  * uniform.
  *
  * The model is an in-JVM replay of the same log over a key → row
  * map: `finish` checks every read against the model state at its op,
  * then the final table and one time-travel version against the model. */
final class TableUpsert(ctx: Ctx) extends Workload {
  import ctx._
  import TableUpsert._

  private val rng = new SplittableRandom(seed)
  private var t: GraftTable = _
  private var schema: StructType = _
  private var nextKey = 0L
  private var bytesAtStart = 0L
  private val recent = mutable.Queue[(Int, Array[Long])]()
  private val log = mutable.ArrayBuffer[Entry]()
  private val generated = mutable.ArrayBuffer[Row]()

  private def orders = Tables.t(spark, data, "orders")

  def setup(dir: String): Unit = {
    if (t != null) GraftTable.deleteTree(java.nio.file.Paths.get(t.path))
    t = GraftTable.createFrom(spark, dir, orders)
  }

  override def prepare(): Unit = {
    schema = t.schemaAt()
    nextKey = orders.agg(org.apache.spark.sql.functions.max("o_orderkey")).head().getLong(0) + 1
    bytesAtStart = Disk.bytes(t.path)
  }

  /** Key drawer for op i: half from keys written in the last 20 ops,
    * half uniform over every key ever issued. */
  private def keys(i: Int): () => Long = {
    while (recent.nonEmpty && recent.head._1 < i - 20) recent.dequeue()
    val pool = recent.iterator.flatMap(_._2.iterator).toArray
    () => if (pool.nonEmpty && rng.nextBoolean()) pool(rng.nextInt(pool.length))
      else rng.nextLong(nextKey)
  }

  private def row(k: Long): Row = Row(k, rng.nextLong(150000L),
    Status(rng.nextInt(Status.length)), rng.nextInt(100000, 50000001) / 100.0,
    new Timestamp(Day0Ms + rng.nextInt(2404) * DayMs),
    Priority(rng.nextInt(Priority.length)))

  private def fresh(n: Int): Seq[Long] = { val ks = nextKey until nextKey + n; nextKey += n; ks }

  private def committed(i: Int, kind: String, c: Commit, upserts: Seq[Row],
      deleted: Option[(Long, Long)]): OpOut = {
    log += Write(i, upserts, deleted, c.version)
    if (upserts.nonEmpty) recent += ((i, upserts.map(_.getLong(0)).toArray))
    generated ++= upserts
    tracer.count(s"tables.$kind", "files_rewritten", c.removedFiles.size)
    tracer.count(s"tables.$kind", "output_bytes", Disk.files(t.path, c.addedFiles))
    OpOut(kind, rows = upserts.size)
  }

  /** Run one write op, counting the log commits and checkpoints it made. */
  private def write(body: => Commit): Commit = Workload.logged(tracer, Seq(t))(body)

  override def roundDone: Boolean = deck.isEmpty

  private var deck: List[String] = Nil
  private var dealt = false

  /** The next round's op kinds in seeded order, OPTIMIZE last; the first
    * round, the warm-up, runs each kind once. */
  private def shuffledDeck(): List[String] = {
    val kinds = if (dealt) Deck else Deck.distinct
    dealt = true
    new scala.util.Random(rng.nextLong()).shuffle(kinds).toList :+ "optimize"
  }

  def op(i: Int): OpOut = {
    if (deck.isEmpty) deck = shuffledDeck()
    val kind = deck.head
    deck = deck.tail
    if (kind == "lookup") {
      val k = keys(i)()
      val pred = s"o_orderkey = $k"
      val rows = tracer.span("tables.lookup")(Workload.query(tracer, t.readWhere(pred))).toSeq
      if (tracer.enabled) {
        val (read, total) = t.pruneFiles(pred)
        tracer.count("tables.lookup", "files_read", read.size)
        tracer.count("tables.lookup", "files_total", total)
        if (read.nonEmpty)
          tracer.count("tables.lookup", "useful_file_ratio", (if (rows.nonEmpty) 1.0 else 0.0) / read.size)
      }
      log += Lookup(i, k, rows)
      OpOut("lookup")
    } else if (kind == "merge") {
      val key = keys(i)
      val matched = mutable.LinkedHashSet[Long]()
      var tries = 0
      while (matched.size < MergeRows / 2 && tries < MergeRows * 4) { matched += key(); tries += 1 }
      val src = (matched.toSeq ++ fresh(MergeRows - matched.size)).map(row)
      val c = write(tracer.span("tables.merge") {
        MergeOps.mergeInto(t, spark.createDataFrame(src.asJava, schema),
          "target.o_orderkey = source.o_orderkey",
          matched = Seq(WhenMatched(None, UpdateAll)),
          notMatched = Seq(WhenNotMatched(None, InsertAll)))
      })
      committed(i, "merge", c, src, None)
    } else if (kind == "append") {
      val src = fresh(AppendRows).map(row)
      val c = write(tracer.span("tables.append")(t.append(spark.createDataFrame(src.asJava, schema))))
      committed(i, "append", c, src, None)
    } else if (kind == "delete") {
      val lo = rng.nextLong(nextKey)
      val c = write(tracer.span("tables.delete")(
        MergeOps.delete(t, s"o_orderkey >= $lo AND o_orderkey < ${lo + DeleteKeys}")))
      committed(i, "delete", c, Nil, Some((lo, lo + DeleteKeys)))
    } else if (kind == "optimize") {
      val c = write(tracer.span("tables.optimize")(
        Maintenance.optimize(t, zorderBy = Seq("o_orderkey"))))
      log += Write(i, Nil, None, c.version)
      tracer.count("tables.optimize", "files_in", c.removedFiles.size)
      tracer.count("tables.optimize", "files_out", c.addedFiles.size)
      tracer.count("tables.optimize", "output_bytes", Disk.files(t.path, c.addedFiles))
      OpOut("optimize")
    } else if (kind == "range_read") {
      val m = rng.nextInt(79)
      val (lo, hi) = (monthStart(m), monthStart(m + 1))
      val rows = tracer.span("tables.range_read")(Workload.query(tracer, t.readWhere(
        s"o_orderdate >= TIMESTAMP '$lo' AND o_orderdate < TIMESTAMP '$hi'")))
      log += RangeRead(i, Timestamp.valueOf(lo), Timestamp.valueOf(hi),
        RowHash.of(schema.fieldNames.toSeq, rows))
      OpOut("range_read")
    } else {
      val n = tracer.span("tables.snapshot_cold") {
        GraftTable.clearAllCaches()
        GraftTable.load(spark, t.path).read().count()
      }
      log += Cold(i, n)
      OpOut("snapshot_cold")
    }
  }

  def finish(ops: Seq[OpRec]): Finish = {
    val cols = schema.fieldNames.toSeq
    val model = mutable.HashMap[Long, Row]()
    orders.collect().foreach(r => model(r.getLong(0)) = r)
    val writes = log.collect { case w: Write => w }
    val ttVersion = if (writes.isEmpty) -1L
      else writes(new SplittableRandom(seed ^ 0x5eedL).nextInt(writes.size)).version
    var ttHash = RowHash.H(0, 0)
    val failed = mutable.Set[Int]()
    log.foreach {
      case Lookup(i, k, rows) =>
        if (RowHash.of(cols, rows) != RowHash.of(cols, model.get(k).toSeq)) failed += i
      case RangeRead(i, lo, hi, h) =>
        val want = model.values.filter { r =>
          val d = r.getTimestamp(4); !d.before(lo) && d.before(hi)
        }
        if (h != RowHash.of(cols, want)) failed += i
      case Cold(i, n) => if (n != model.size) failed += i
      case Write(_, upserts, deleted, version) =>
        upserts.foreach(r => model(r.getLong(0)) = r)
        deleted.foreach { case (lo, hi) => (lo until hi).foreach(model.remove) }
        if (version == ttVersion) ttHash = RowHash.of(cols, model.values)
    }
    GraftTable.clearAllCaches()
    val finalOk = RowHash.of(cols, t.read().collect()) == RowHash.of(cols, model.values)
    val ttOk = ttVersion < 0 || RowHash.of(cols, t.read(ttVersion).collect()) == ttHash
    // a wrong table cannot be pinned on one write: every write op fails
    if (!finalOk || !ttOk) failed ++= writes.map(_.i)

    val added = Disk.bytes(t.path) - bytesAtStart
    val input = if (generated.isEmpty) 0L
      else Disk.compact(spark.createDataFrame(generated.asJava, schema), s"$tmp/input-copy")
    val live = Disk.compact(t.read(), s"$tmp/live-copy")
    Finish(failed.toSet,
      Map("final_table" -> finalOk, "time_travel" -> ttOk),
      Map("bytes_added" -> added.toDouble, "input_bytes" -> input.toDouble,
        "disk_bytes" -> Disk.bytes(t.path).toDouble, "live_bytes" -> live.toDouble))
  }
}

object TableUpsert {
  /** One round before its closing OPTIMIZE: 11 lookups, 4 merges, 2
    * appends, 2 deletes, a range read and a cold open (50/18/9/9/5/5% of
    * the round's 22 ops). One lookup over half keeps the median inside
    * the lookup latencies instead of on the edge between lookups and the
    * slower kinds. OPTIMIZE at a fixed place, not shuffled in, so every
    * round's merges meet the same file layout; with it a round makes 9
    * commits, which puts a log checkpoint (every 10 versions) in nearly
    * every round. */
  val Deck: Seq[String] = Seq.fill(11)("lookup") ++ Seq.fill(4)("merge") ++
    Seq.fill(2)("append") ++ Seq.fill(2)("delete") ++ Seq("range_read", "snapshot_cold")
  val MergeRows = 500
  val AppendRows = 500
  val DeleteKeys = 20
  private val Status = Array("O", "F", "P")
  private val Priority = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val DayMs = 86400000L
  private val Day0Ms = 788918400000L // 1995-01-01T00:00:00Z

  /** `yyyy-MM-01 00:00:00` of the m-th month after 1995-01. */
  def monthStart(m: Int): String = f"${1995 + m / 12}%04d-${m % 12 + 1}%02d-01 00:00:00"

  sealed trait Entry { def i: Int }
  final case class Lookup(i: Int, key: Long, rows: Seq[Row]) extends Entry
  final case class RangeRead(i: Int, lo: Timestamp, hi: Timestamp, h: RowHash.H) extends Entry
  final case class Cold(i: Int, n: Long) extends Entry
  final case class Write(i: Int, upserts: Seq[Row], deleted: Option[(Long, Long)],
      version: Long) extends Entry
}
