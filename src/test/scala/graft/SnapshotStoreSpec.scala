package graft

import graft.store.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The Iceberg-style manifest layer: delta appends reference prior
  * files, reads prune by bucket, time travel pins file lists, rollback
  * recovers crashes. */
class SnapshotStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("store-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  def fresh(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("store-spec").toString)

  test("appendDelta accumulates rows; per-wave physical write is only the delta") {
    val st = fresh()
    st.write(Seq.empty[(Int, String)].toDF("host_bucket", "v"), "t", -1)
    val id0 = st.appendDelta(Seq((0, "a"), (1, "b")).toDF("host_bucket", "v"), "t", 0,
      bucketCol = Some("host_bucket"))
    val id1 = st.appendDelta(Seq((0, "c")).toDF("host_bucket", "v"), "t", 1,
      bucketCol = Some("host_bucket"))
    assert(st.read(spark, "t").count() == 3)
    // snapshot 1's NEW files vs snapshot 0: only bucket 0 gained a file
    val f0 = st.snapshotFiles("t", id0)
    val f1 = st.snapshotFiles("t", id1)
    assert(f1(0).size == f0(0).size + 1)
    assert(f1(1) == f0(1))
    // time travel: snapshot id0 sees only the first delta
    assert(st.readSnapshot(spark, "t", id0).count() == 2)
  }

  test("readBuckets prunes to exactly the requested buckets' files") {
    val st = fresh()
    st.appendDelta(Seq((0, "a"), (1, "b"), (2, "c")).toDF("host_bucket", "v"), "t", 0,
      bucketCol = Some("host_bucket"))
    val pruned = st.readBuckets(spark, "t", Seq(1))
    assert(pruned.collect().map(_.getString(1)).toSeq == Seq("b"))
    val expected = st.currentFiles("t")(1).toSet
    assert(pruned.inputFiles.map(f => new java.net.URI(f).getPath).toSet == expected)
  }

  test("empty table reads back with the pinned schema") {
    val st = fresh()
    st.write(Seq.empty[(Int, String)].toDF("host_bucket", "v"), "t", -1)
    val df = st.read(spark, "t")
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("host_bucket", "v"))
  }

  test("rollbackTo truncates the manifest and deletes orphan snapshots") {
    val st = fresh()
    st.write(Seq((0, "a")).toDF("host_bucket", "v"), "t", 0)
    st.commitWave(0, Map("t" -> st.currentSnapshot("t").get), Map.empty)
    st.appendDelta(Seq((0, "orphan")).toDF("host_bucket", "v"), "t", 1,
      bucketCol = Some("host_bucket")) // crash: written but never committed
    assert(st.read(spark, "t").count() == 2)
    st.recoverToLastCommit(Seq("t"))
    assert(st.read(spark, "t").collect().map(_.getString(1)).toSeq == Seq("a"))
    // next write after rollback gets a fresh id and a clean dir
    st.appendDelta(Seq((1, "b")).toDF("host_bucket", "v"), "t", 1,
      bucketCol = Some("host_bucket"))
    assert(st.read(spark, "t").collect().map(_.getString(1)).toSet == Set("a", "b"))
  }

  test("full write supersedes all prior files (compaction semantics)") {
    val st = fresh()
    st.appendDelta(Seq((0, "a")).toDF("host_bucket", "v"), "t", 0,
      bucketCol = Some("host_bucket"))
    st.appendDelta(Seq((0, "b")).toDF("host_bucket", "v"), "t", 1,
      bucketCol = Some("host_bucket"))
    st.writeBucketed(Seq((0, "merged")).toDF("host_bucket", "v"), "t", 1, "host_bucket")
    assert(st.read(spark, "t").collect().map(_.getString(1)).toSeq == Seq("merged"))
  }
}
