package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Byte accounting behind `write_amp` and `space_amp`. */
object Disk {

  /** Bytes of every regular file under `root` (0 when absent). */
  def bytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.iterator().asScala.filter(q => Files.isRegularFile(q)).map(Files.size).sum
    finally s.close()
  }

  /** Log checkpoint files of the table at `table`. */
  def checkpoints(table: String): Int = {
    val log = Paths.get(table, "_log")
    if (!Files.isDirectory(log)) return 0
    val s = Files.list(log)
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("checkpoint-"))
    finally s.close()
  }

  /** Bytes of table-relative files. */
  def files(table: String, rel: Seq[String]): Long =
    rel.map(f => Files.size(Paths.get(table, f))).sum

  /** Bytes of `df` written as one compact Parquet file under `dir`. */
  def compact(df: DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter((q: Path) => q.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    finally s.close()
  }
}
