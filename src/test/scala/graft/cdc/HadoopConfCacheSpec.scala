package graft.cdc

import graft.TestSpark
import graft.core.ChangeGen
import graft.lake.LakeTable
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[ParquetRowCodec.confFrom]]: one conf per JVM for a session conf,
  * shared by bucket-local readers and sink writers, never stale, never
  * written into.
  */
class HadoopConfCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // every bucket holds a base and a delta layer: reads run as bucket tasks
  private lazy val table: LakeTable = {
    val ev = ChangeGen.events(spark, ChangeGen.Config(nEvents = 1200,
      nDomains = 10, pagesPerDomain = 10, v1Frac = 0.0, v2Frac = 0.0))
    val t = LakeTable.create(spark, TestSpark.tempDir("conf-cache"),
      schemaId = 3, numBuckets = 4)
    t.updateProperties(Map("write-mode" -> "mor"))
    Merge.applyBatch(spark, t, ev.filter(col("lsn") < 600), 1L, 3)
    Merge.applyBatch(spark, t, ev.filter(col("lsn") >= 600), 2L, 3)
    t
  }

  private def readerConf(df: DataFrame): Configuration = {
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[BucketScan]
    }.get
    val r = scan.createReaderFactory()
      .createReader(scan.planInputPartitions().head)
      .asInstanceOf[ChangelogPartitionReader]
    try r.conf finally r.close()
  }

  private def sharedConf =
    ParquetRowCodec.confFrom(ParquetRowCodec.hadoopConfDelta(spark))

  test("bucket-local reads under one session conf share one conf") {
    val v = table.currentVersion
    val (read, changes) = (table.readUser(), table.changesBetween(v - 1, v))
    assert(read.count() > 0 && changes.count() > 0)
    assert(readerConf(read) eq readerConf(changes))
    assert(readerConf(read) eq sharedConf)
  }

  test("a session hadoop-conf change reaches the next scan's readers") {
    val hc = spark.sparkContext.hadoopConfiguration
    val k = "graft.test.conf-cache.probe"
    assert(readerConf(table.readUser()).get(k) == null)
    hc.set(k, "v1")
    try {
      val first = readerConf(table.readUser())
      assert(first.get(k) == "v1")
      hc.set(k, "v2")
      assert(readerConf(table.readUser()).get(k) == "v2")
      assert(first.get(k) == "v1", "a shared conf was mutated in place")
    } finally hc.unset(k)
  }

  test("staging a graft-lake sink batch leaves the shared conf untouched") {
    def entries(c: Configuration) =
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val shared = sharedConf
    val before = entries(shared)
    val replica = TestSpark.tempDir("conf-cache-replica")
    ChangeFeed.replicateStream(spark, table.dir, replica,
      TestSpark.tempDir("conf-cache-ckpt"), Trigger.AvailableNow())
      .awaitTermination()
    assert(LakeTable.load(spark, replica).readUser().count() ==
      table.readUser().count())
    assert(sharedConf eq shared)
    assert(shared.get("parquet.example.schema") == null)
    assert(entries(shared) == before)
  }
}
