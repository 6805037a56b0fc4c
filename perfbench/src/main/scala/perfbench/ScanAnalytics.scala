package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.queries.{GQ, Relational, TpcdsQueries, TpchQueries}

/** `scan_analytics`: each op runs one read-only catalog gate, collects
  * its result and hashes it. The gates are a fixed cross-section of the
  * relational q0x–q4x, TPC-H and TPC-DS gates (none creates a table):
  * a scan with a hash aggregate, native string expressions, a three-way
  * join with top-k, and a ROLLUP over a channel union. A round runs each
  * once, in a seeded order.
  *
  * Correctness is a chain: the warm-up round keeps each gate's collected
  * result as its reference, and every later op of the gate must hash
  * equal to it. After the timed section `finish` dumps each reference as
  * Parquet, as `graft.Verify` dumps a gate, for the DuckDB oracle check
  * `run.py` makes with the rules of `tools/check.py`. */
final class ScanAnalytics(ctx: Ctx) extends Workload {
  import ctx._

  private val gates: Seq[GQ] = {
    val all = (Relational.queries ++ TpchQueries.queries ++ TpcdsQueries.queries)
      .map(g => g.name -> g).toMap
    ScanAnalytics.Gates.map(all)
  }
  private val order: IndexedSeq[GQ] = new scala.util.Random(seed).shuffle(gates).toIndexedSeq
  private val ref = mutable.LinkedHashMap[String, (StructType, Array[Row], RowHash.H)]()

  private var n = 0
  override def roundDone: Boolean = n % gates.size == 0

  /** Register the catalog tables (one schema read per table). */
  def setup(dir: String): Unit = Tables.registerAll(spark, data)

  def op(i: Int): OpOut = {
    val g = order(n % order.size)
    n += 1
    val df = tracer.span("queries.plan") {
      val d = g.run(spark, data)
      d.queryExecution.executedPlan
      d
    }
    val rows = tracer.span("queries.exec")(df.collect())
    val h = RowHash.of(df.columns.toSeq, rows)
    ref.get(g.name) match {
      case Some((_, _, want)) => OpOut(g.name, h == want)
      case None => ref(g.name) = (df.schema, rows, h); OpOut(g.name)
    }
  }

  def finish(ops: Seq[OpRec]): Finish = {
    val refDir = s"$tmp/ref"
    ref.foreach { case (name, (schema, rows, _)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$refDir/$name")
    }
    val oracle = SparkEntry.oracleSql.filter(kv => ref.contains(kv._1))
    Files.writeString(Paths.get(s"$refDir/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(oracle))
    Finish(Set.empty, Map.empty, Map.empty)
  }
}

object ScanAnalytics {
  val Gates = Seq("q01_pricing_summary", "q46_string_funcs",
    "q161_tpch03_ship_priority", "q288_channel_sales_rollup")
}
