package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalogued query: a Spark implementation plus (when SQL-expressible)
  * an equivalent ANSI-SQL oracle the driver runs in DuckDB over the same
  * parquet tables. Column names/order-by must match exactly (driver hashes
  * column-sorted values).
  */
final case class GQ(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

trait QueryBatch {
  def queries: Seq[GQ]
}

/** The single home of the scratch-table area: gate queries write their
  * versioned tables/checkpoints under one root so the harnesses (Bench
  * between queries, Verify at startup) can wipe exactly this tree.
  * Previously each batch had its own copy of the literal — moving the
  * root meant editing them all, and a missed copy silently escaped the
  * cleanup.
  *
  * The root is the `graft.scratch.root` JVM property, else `target/qtmp`
  * under the working directory — so a copy of the repo, or a second
  * harness given its own `-Dgraft.scratch.root`, never wipes another
  * process's tables. */
object Scratch {
  val Root: String = resolveRoot(sys.props.get("graft.scratch.root"))

  private[queries] def resolveRoot(prop: Option[String]): String =
    java.nio.file.Paths.get(prop.filter(_.trim.nonEmpty).getOrElse("target/qtmp"))
      .toAbsolutePath.normalize.toString

  /** Fresh per-call dir path (not created; writers create as needed). */
  def dir(tag: String): String = {
    val p = java.nio.file.Paths.get(Root,
      tag + "-" + java.util.UUID.randomUUID().toString.take(8))
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }
}
