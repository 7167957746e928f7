package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.streaming.TableStore

/** `TableStore.read` takes the caller's schema on both layouts: an
  * unpartitioned snapshot reads like a partitioned one, launches no
  * schema-inference job, and returns exactly the caller's columns.
  */
class TableStoreReadSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType),
    StructField("day", StringType)))

  private def freshStore(): TableStore =
    new TableStore(Files.createTempDirectory("graft_store_read").toString)

  private val rows = (0L until 60L).map(i => (i, i * 0.5, s"d${i % 3}"))

  private def sorted(store: TableStore, s: StructType): Seq[String] =
    store.read(spark, "t", s).collect().map(_.toSeq.toString).sorted.toSeq

  test("unpartitioned and partitioned snapshots read back identically") {
    val flat = freshStore()
    val parted = freshStore()
    flat.overwrite("t", rows.toDF("k", "v", "day"))
    parted.overwrite("t", rows.toDF("k", "v", "day"), partitionBy = Seq("day"))
    assert(flat.partitionValues("t").isEmpty)
    assert(parted.partitionValues("t") == Seq("d0", "d1", "d2"))

    val a = flat.read(spark, "t", schema)
    val b = parted.read(spark, "t", schema)
    assert(a.schema == b.schema)
    assert(a.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
    assert(sorted(flat, schema).size == rows.size)
    assert(sorted(flat, schema) == sorted(parted, schema))
  }

  test("an unpartitioned read launches no Spark job") {
    val store = freshStore()
    store.overwrite("t", rows.toDF("k", "v", "day"))
    val sites = jobCallSites(store.read(spark, "t", schema))
    assert(sites.isEmpty, s"read launched jobs: $sites")
  }

  test("a caller schema omitting a stored column reads only its columns") {
    val store = freshStore()
    store.overwrite("t", rows.toDF("k", "v", "day"))
    val narrow = StructType(Seq(schema("day"), schema("k")))
    val df = store.read(spark, "t", narrow)
    assert(df.schema.fieldNames.toSeq == Seq("day", "k"))
    assert(df.as[(String, Long)].collect().sorted.toSeq ==
      rows.map { case (k, _, d) => (d, k) }.sorted)
  }
}
