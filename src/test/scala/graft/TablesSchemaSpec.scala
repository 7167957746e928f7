package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables`' parquet schema cache: it holds metadata only, a rewritten
  * path or a flipped inference conf replaces its entry, a missing path
  * fails exactly as an uncached read does, and a warm frame build
  * reads no parquet footers.
  */
class TablesSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val inferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** Run `body` with `confs` set, restoring their prior values. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The rows of `events` as written in the parquet TIMESTAMP(NANOS)
    * vintage of the table: `ts` is INT64 nanoseconds since the epoch.
    */
  private def writeNanosEvents(events: DataFrame, file: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val rows = events
      .select($"event_id", expr("unix_micros(cast(ts AS timestamp)) * 1000"),
        $"user_id", $"event_type", $"value", $"props")
      .collect()
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .zipWithIndex.filterNot { case (_, i) => r.isNullAt(i) }
        .foreach {
          case (f, i) => r.get(i) match {
            case v: java.lang.Long => g.add(f, v.longValue)
            case v: java.lang.Double => g.add(f, v.doubleValue)
            case v: String => g.add(f, v)
          }
        }
      writer.write(g)
    } finally writer.close()
  }

  test("a table overwritten with a new schema loads its new columns") {
    val dir = Files.createTempDirectory("graft_tables").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))

    Seq((2L, "b", 3.5)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq == Seq("k", "v", "w"))
    assert(after.as[(Long, String, Double)].collect().toSeq ==
      Seq((2L, "b", 3.5)))
  }

  test("flipped inference confs re-infer; both events layouts read alike") {
    val microsPath = s"$sfDir/events.parquet"
    val nanosDir = Files.createTempDirectory("graft_events_nanos").toString
    val nanosPath = s"$nanosDir/events.parquet"
    writeNanosEvents(spark.read.parquet(microsPath), nanosPath)

    withConfs(nanosAsLong -> "true") {
      assert(Tables.parquetSchema(spark, nanosPath)("ts").dataType == LongType)
      withConfs(nanosAsLong -> "false") {
        // without the legacy conf Spark rejects TIMESTAMP(NANOS): a
        // cache keyed on the path alone would still answer LongType
        val e = intercept[AnalysisException](
          Tables.parquetSchema(spark, nanosPath))
        assert(e.getMessage.contains("NANOS"), e.getMessage)
      }
      assert(Tables.parquetSchema(spark, nanosPath)("ts").dataType == LongType)

      assert(Tables.parquetSchema(spark, microsPath)("ts").dataType ==
        TimestampNTZType)
      withConfs(inferNtz -> "false") {
        assert(Tables.parquetSchema(spark, microsPath)("ts").dataType ==
          TimestampType)
      }
    }

    val fromMicros = Tables.events(spark, sfDir)
    val fromNanos = Tables.events(spark, nanosDir)
    assert(fromNanos.schema == fromMicros.schema)
    assert(fromMicros.schema("ts").dataType == TimestampType)
    val want = fromMicros.collect().map(_.toSeq.toString).sorted.toSeq
    assert(want.nonEmpty)
    assert(fromNanos.collect().map(_.toSeq.toString).sorted.toSeq == want)
  }

  test("a missing path fails with Spark's PATH_NOT_FOUND") {
    val dir = Files.createTempDirectory("graft_tables_missing").toString
    val e = intercept[AnalysisException](Tables.load(spark, dir, "absent"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("a warm frame build launches no parquet inference job") {
    // the `query_light` query set of the repository benchmark
    val queries = Seq("q1_lineitem_agg", "q_membership_level",
      "q_purchase_frequency", "q_customer_enrich", "q_sync_delete_antijoin",
      "q_exists_semijoin", "q_top5_sales", "q_upsert", "q_daily_load",
      "q_ingest_replay", "q_store_roundtrip", "q_point_lookup",
      "q_events_hourly", "q_category_routing", "q_stock_decrement")
    val dir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    def buildAll(): Unit = queries.foreach(q => SparkEntry.queries(q)(spark, dir))
    buildAll()
    val sites = jobCallSites(buildAll())
    val inference = sites.filter(_.startsWith("parquet at Tables.scala"))
    assert(inference.isEmpty, s"warm build still infers schemas: $sites")
    spark.catalog.clearCache()
  }
}
