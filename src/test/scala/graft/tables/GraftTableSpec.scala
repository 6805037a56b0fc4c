package graft.tables

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class GraftTableSpec extends SparkTestBase {

  private def customer = Tables.t(spark, sf, "customer")

  test("create/append/read roundtrip preserves data") {
    val t = GraftTable.createFrom(spark, scratch("rt"), customer)
    assert(t.read().count() === customer.count())
    assert(t.currentVersion === 1) // CREATE + CTAS append
    t.append(customer.limit(10))
    assert(t.read().count() === customer.count() + 10)
  }

  test("time travel reads historic snapshots; restore repoints") {
    val t = GraftTable.createFrom(spark, scratch("tt"), customer.limit(50))
    t.append(customer.limit(20))
    assert(t.read(versionAsOf = 1).count() === 50)
    assert(t.read().count() === 70)
    t.restoreTo(1)
    assert(t.read().count() === 50)
    // restore is itself a new version; history keeps everything
    assert(t.history.count() === 4)
  }

  test("overwrite replaces content; truncate empties but keeps schema") {
    val t = GraftTable.createFrom(spark, scratch("ow"), customer)
    t.overwrite(customer.limit(5))
    assert(t.read().count() === 5)
    t.truncate()
    assert(t.read().count() === 0)
    assert(t.read().schema.fieldNames.contains("c_custkey"))
  }

  test("clone copies current snapshot independently") {
    val t = GraftTable.createFrom(spark, scratch("cl-src"), customer.limit(30))
    val c = t.cloneTo(scratch("cl-dst"))
    assert(c.read().count() === 30)
    t.append(customer.limit(10))
    assert(c.read().count() === 30) // clone unaffected
  }

  test("incremental OPTIMIZE compacts only small files") {
    val li = graft.Tables.t(spark, sf, "lineitem")
    val t = GraftTable.create(spark, scratch("incropt"), li.schema,
      Map("graft.targetFileSize" -> (64 * 1024).toString))
    t.append(li.coalesce(1))                       // one well-sized file
    val big = t.filesAt()
    (1 to 5).foreach(i =>                          // five tiny appends
      t.append(li.filter(org.apache.spark.sql.functions.col("l_orderkey") % 97 === i)
        .coalesce(1)))
    val before = t.filesAt().size
    val c = Maintenance.optimizeIncremental(t)
    assert(c.operationParameters("incremental") === "true")
    assert(c.metrics("numFilesRemoved") === (before - big.size).toLong)
    assert(t.filesAt().toSet.intersect(big.toSet) === big.toSet,
      "the well-sized file must survive untouched")
    assert(t.read().count() === li.count() +
      (1 to 5).map(i => li.filter(org.apache.spark.sql.functions.col("l_orderkey") % 97 === i).count()).sum)
    // nothing left to compact: second pass is a no-op commit
    val c2 = Maintenance.optimizeIncremental(t)
    assert(c2.addedFiles.isEmpty && c2.removedFiles.isEmpty)
  }

  test("vacuum deletes only unreferenced files") {
    val t = GraftTable.createFrom(spark, scratch("vac"), customer)
    t.overwrite(customer.limit(5))
    val deleted = t.vacuum(retainVersions = 0)
    assert(deleted.nonEmpty)
    assert(t.read().count() === 5) // live files untouched
  }

  test("properties persist and merge across commits") {
    val t = GraftTable.create(spark, scratch("props"), customer.schema,
      Map("graft.targetFileSize" -> "64mb"))
    t.setProperties(Map("owner" -> "graft"))
    assert(t.properties === Map("graft.targetFileSize" -> "64mb", "owner" -> "graft"))
  }

  test("concurrent appends from two writers all land under retry") {
    val path = scratch("cc")
    GraftTable.createFrom(spark, path, customer.limit(10))
    val perWriter = 4
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        val h = GraftTable.load(spark, path) // independent handle, shared log
        (1 to perWriter).foreach { _ =>
          Concurrency.retry() { h.append(customer.limit(1)) }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val t = GraftTable.load(spark, path)
    // every append committed exactly once: 2 (create+ctas) + 8 appends
    assert(t.currentVersion === 9)
    assert(t.read().count() === 10 + 2 * perWriter)
  }

  test("identity column assignment and SYNC IDENTITY") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("c_custkey",
        org.apache.spark.sql.types.LongType)))
    val t = GraftTable.create(spark, scratch("id"), schema,
      Map("graft.identity.column" -> "id"))
    t.append(customer.select("c_custkey").limit(40))
    t.append(customer.select("c_custkey").limit(10))
    val ids = t.read().select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (1L to 50L)) // contiguous across commits
    t.syncIdentity()
    assert(t.identityHighWatermark === 50L)
  }

  test("snapshot reads are built from the log's file list without a Spark job") {
    // above 32 paths spark.read.parquet lists the files with a job of one
    // task per file; a read built from the log needs no job until an action
    val t = GraftTable.create(spark, scratch("logscan"), customer.schema,
      Map("graft.deletionVectors" -> "true"))
    t.append(customer.repartition(40))
    MergeOps.delete(t, "c_custkey % 7 = 0") // live DV sidecar on every read
    val files = t.filesAt()
    assert(files.size > 32, s"need more than 32 live files, got ${files.size}")
    val (activity, (full, where, withPos)) = graft.SparkActivity.during(spark) {
      (t.read(), t.readWhere("c_custkey < 100"), t.readFilesWithPos(files))
    }
    assert(activity.jobs === 0, "building a read must launch no job before an action")

    def local(uri: String) = java.nio.file.Paths.get(new java.net.URI(uri)).toString
    assert(full.inputFiles.map(local).toSet ===
      (files ++ t.dvAt()).toSet, "the scan reads exactly the log's live files")
    val expect = customer.filter(col("c_custkey") % 7 =!= 0)
    assert(full.count() === expect.count())
    assert(where.count() === expect.filter(col("c_custkey") < 100).count())
    // _metadata.file_path URIs still name the log's files (MergeOps and
    // the DV delete path parse them back to paths)
    assert(withPos.select(GraftTable.DvFileCol).distinct().collect()
      .map(r => local(r.getString(0))).toSet.subsetOf(files.toSet))

    // two reads of one snapshot are the same plan (exchange reuse,
    // CacheManager matching); a different file set is not
    val a = t.read().queryExecution.analyzed
    assert(a.sameResult(t.read().queryExecution.analyzed))
    assert(t.readFiles(files).queryExecution.analyzed
      .sameResult(t.readFiles(files.reverse).queryExecution.analyzed))
    assert(!t.readFiles(files).queryExecution.analyzed
      .sameResult(t.readFiles(files.tail).queryExecution.analyzed))
  }
}
