package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.lake.VersionedTable

/** `writeStream.format("graft-table")` sink: per-batch commits through the
  * table's txn ledger — exactly-once under the engine's at-least-once
  * addBatch replay — and short-name registration.
  */
class TableSinkSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: (Long, Double)*): DataFrame =
    rows.toDF("o_orderkey", "price")

  test("a replayed addBatch with the same batchId commits exactly once") {
    val work = tmpDir("snk1")
    val t = VersionedTable(spark, s"$work/t", Seq("o_orderkey"))
    t.overwrite(df((1L, 10.0)))
    val provider = new graft.streaming.TableSinkProvider
    val sink = provider.createSink(spark.sqlContext,
      t.sinkOptions + ("checkpointLocation" -> s"$work/ckpt"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Update())
    // the engine re-calls addBatch with the SAME id after a sink-side
    // crash — the second call must be a no-op, not a double-apply
    sink.addBatch(0, df((2L, 20.0)))
    sink.addBatch(0, df((2L, 20.0)))
    assert(t.currentVersion == 2, "replayed batch must not commit again")
    sink.addBatch(1, df((2L, 25.0), (3L, 30.0)))
    assert(t.currentVersion == 3)
    assert(t.read.as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 25.0), (3L, 30.0)))
  }

  test("end-to-end writeStream by short name upserts each micro-batch") {
    val work = tmpDir("snk2")
    val t = VersionedTable(spark, s"$work/t", Seq("o_orderkey"))
    Seq((1L, 10.0), (2L, 20.0)).toDF("o_orderkey", "price")
      .write.mode("overwrite").parquet(s"$work/in")
    val q = spark.readStream
      .schema(spark.read.parquet(s"$work/in").schema)
      .parquet(s"$work/in")
      .writeStream.format("graft-table").options(t.sinkOptions)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(t.read.as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0)))
    // second run over the same files: engine replays nothing new → no commit
    val q2 = spark.readStream
      .schema(spark.read.parquet(s"$work/in").schema)
      .parquet(s"$work/in")
      .writeStream.format("graft-table").options(t.sinkOptions)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(t.currentVersion == 1)
  }

  test("the sink refuses to run without a stable ledger key") {
    val work = tmpDir("snk3")
    val t = VersionedTable(spark, s"$work/t", Seq("o_orderkey"))
    val e = intercept[RuntimeException](
      new graft.streaming.TableSinkProvider().createSink(
        spark.sqlContext, t.sinkOptions, Seq.empty,
        org.apache.spark.sql.streaming.OutputMode.Update()))
    assert(e.getMessage.contains("checkpointLocation"))
  }

  test("Complete mode replaces the table per batch") {
    val work = tmpDir("snk4")
    val t = VersionedTable(spark, s"$work/t", Seq("o_orderkey"))
    t.overwrite(df((1L, 10.0), (2L, 20.0)))
    val sink = new graft.streaming.TableSinkProvider().createSink(
      spark.sqlContext, t.sinkOptions + ("txnAppId" -> "snk4"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Complete())
    sink.addBatch(0, df((9L, 90.0)))
    assert(t.read.as[(Long, Double)].collect().toSet == Set((9L, 90.0)))
    assert(t.readVersion(1).count() == 2)
  }

  test("format(\"graft-table\") resolves via DataSourceRegister") {
    // the service-loader registration (META-INF/services) is what lets a
    // user write the short name instead of the provider class name
    val cls = org.apache.spark.sql.execution.datasources.DataSource
      .lookupDataSource("graft-table", spark.sessionState.conf)
    assert(cls.getName.contains("TableSinkProvider"))
  }
}
