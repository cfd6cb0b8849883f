package graft

import graft.lake.{DataFile, LakeTable, Snapshot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class LakeTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("create → commit chain → time travel; concurrent commit loses cleanly") {
    val dir = TestSpark.tempDir("lake")
    val t = LakeTable.create(spark, dir, schemaId = 2, numBuckets = 4)
    assert(t.currentVersion == 0)
    val s0 = t.currentSnapshot
    t.commit(Snapshot(1, 2, 4, Nil, Map("batch-epoch" -> "0")))
    assert(t.currentVersion == 1)
    assert(t.lastCommittedEpoch.contains(0L))
    // optimistic concurrency: same version again must fail, table intact
    intercept[IllegalStateException] {
      t.commit(Snapshot(1, 2, 4, Nil, Map("batch-epoch" -> "99")))
    }
    assert(t.currentVersion == 1 && t.lastCommittedEpoch.contains(0L))
    // time travel still sees v0
    assert(t.snapshot(0).summary.get("created").contains("true"))
    assert(t.read(s0).isEmpty)
  }

  test("schema alignment: v2 files (content_len INT, with lang) readable after v3 widening") {
    import spark.implicits._
    val dir = TestSpark.tempDir("lake")
    val t = LakeTable.create(spark, dir, schemaId = 2, numBuckets = 1)
    // write a v2-schema data file by hand (content_len is INT in v2)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq(("https://a/1", ts, Array[Byte](1), "t", "en", 42, 7L, "U"))
      .toDF("url", "warc_ts", "html", "text", "lang", "content_len", "_lsn", "_op")
    val f = dir + "/data/manual"
    df.write.parquet(f)
    val part = Files.list(Paths.get(f)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    // bytes=0 exercises the legacy-manifest stat fallback in GraftFileIndex
    t.commit(Snapshot(1, 2, 1, Seq(DataFile(part, 0, 1, 0, 2)), Map("batch-epoch" -> "0")))
    // evolve to v3 (content_len widens to LONG) — old file carried forward
    t.commit(Snapshot(2, 3, 1, Seq(DataFile(part, 0, 1, 0, 2)), Map("batch-epoch" -> "1")))
    val got = t.read()
    assert(got.schema("content_len").dataType.typeName == "long")
    assert(got.select("content_len").head().getLong(0) == 42L)
    // v1-era read (time travel) keeps the old schema
    assert(t.read(t.snapshot(1)).schema("content_len").dataType.typeName == "integer")
  }

  test("manifest-list split: delta commits rewrite only touched bucket groups") {
    val dir = TestSpark.tempDir("lake")
    val t = LakeTable.create(spark, dir, schemaId = 3, numBuckets = 256) // 4 groups of 64
    def df(bucket: Int, tag: String) =
      DataFile(s"$dir/data/fake-$tag-$bucket.parquet", bucket, 1, 10, 3)
    // v1: files in groups 0 (bucket 0) and 1 (bucket 70)
    t.commitDelta(t.currentSnapshot, 1, 3, Set(0, 70),
      Seq(df(0, "a"), df(70, "a")), Map("batch-epoch" -> "0"))
    val s1 = t.currentSnapshot
    assert(s1.manifests.map(_.group).sorted == Seq(0, 1))
    assert(s1.inline.isEmpty && s1.fileCount == 2 && s1.totalBytes == 20)
    // v2 touches only group 2 → groups 0 and 1 carried by REFERENCE
    t.commitDelta(s1, 2, 3, Set(130), Seq(df(130, "b")), Map("batch-epoch" -> "1"))
    val s2 = t.currentSnapshot
    assert(s2.manifests.map(_.group).sorted == Seq(0, 1, 2))
    val byGroup1 = s1.manifests.map(m => m.group -> m.path).toMap
    val byGroup2 = s2.manifests.map(m => m.group -> m.path).toMap
    assert(byGroup2(0) == byGroup1(0) && byGroup2(1) == byGroup1(1)) // reused
    // v3 replaces bucket 0 within group 0 → only group 0's manifest rewritten
    t.commitDelta(s2, 3, 3, Set(0), Seq(df(0, "c")), Map("batch-epoch" -> "2"))
    val s3 = t.currentSnapshot
    val byGroup3 = s3.manifests.map(m => m.group -> m.path).toMap
    assert(byGroup3(0) != byGroup2(0))
    assert(byGroup3(1) == byGroup2(1) && byGroup3(2) == byGroup2(2))
    assert(s3.filesForBuckets(Set(0)).map(_.path) == Seq(df(0, "c").path))
    assert(s3.filesForBuckets(Set(70, 130)).map(_.bucket).sorted == Seq(70, 130))
    assert(s3.files.size == 3)
    // metadata-only commit carries every manifest forward unchanged
    t.updateProperties(Map("note" -> "x"))
    assert(t.currentSnapshot.manifests.map(_.path).sorted == s3.manifests.map(_.path).sorted)
    // gc with all snapshots live removes nothing; after expiry the
    // superseded group-0 manifests (v1/v2-era) are collected
    import graft.lake.Maintenance
    assert(Maintenance.gc(t, minAgeMs = 0L) == 0)
    Maintenance.expireSnapshots(t, keepLast = 1)
    assert(Maintenance.gc(t, minAgeMs = 0L) > 0)
    assert(t.currentSnapshot.files.size == 3) // live state intact
  }

  test("commitDelta race: loser fails cleanly, its orphan manifests are collected") {
    val dir = TestSpark.tempDir("lake")
    val t = LakeTable.create(spark, dir, schemaId = 3, numBuckets = 128)
    def df(bucket: Int, tag: String) =
      DataFile(s"$dir/data/fake-$tag-$bucket.parquet", bucket, 1, 10, 3)
    val s0 = t.currentSnapshot
    t.commitDelta(s0, 1, 3, Set(1), Seq(df(1, "winner")), Map("batch-epoch" -> "0"))
    // a racing committer that computed its delta from the SAME prev loses
    // with a clean error — after having already written its manifest files
    val lost = intercept[IllegalStateException] {
      t.commitDelta(s0, 1, 3, Set(2), Seq(df(2, "loser")), Map("batch-epoch" -> "0"))
    }
    assert(lost.isInstanceOf[graft.lake.CommitConflict])
    assert(t.currentVersion == 1)
    assert(t.currentSnapshot.files.map(_.path) == Seq(df(1, "winner").path))
    // the loser's unreferenced manifest is an orphan until gc
    import graft.lake.Maintenance
    assert(Maintenance.gc(t, minAgeMs = 0L) >= 1)
    assert(t.currentSnapshot.files.map(_.path) == Seq(df(1, "winner").path))
  }

  test("orphan data files (crash between phases) never corrupt the table") {
    val dir = TestSpark.tempDir("lake")
    val t = LakeTable.create(spark, dir, schemaId = 3, numBuckets = 2)
    // phase 1 only: data written, no manifest published
    val orphan = t.newCommitDir(epoch = 5)
    Files.writeString(Paths.get(orphan, "junk.parquet"), "not parquet")
    assert(t.currentVersion == 0)
    assert(t.read().isEmpty) // reader never looks at unreferenced files
  }
}
