package graft.queries

import scala.util.Try

import org.apache.spark.sql.types.LongType

import graft.SparkSpec

class CommonSpec extends SparkSpec {

  test("the parquet schema memo answers per nanosAsLong value, like a " +
      "direct read") {
    // TIMESTAMP(NANOS) infers as LongType under nanosAsLong and is
    // rejected without it; Spark cannot write it, so parquet-mr does
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val path = s"$dir/ts_nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1000L))
    finally w.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    def viaMemo = Try(Common.table(spark, dir, "ts_nanos").schema)
    def direct = Try(spark.read.parquet(path).schema)
    try {
      spark.conf.set(key, "true")
      assert(viaMemo.get("ts").dataType == LongType)
      spark.conf.set(key, "false")
      assert(direct.isFailure, "TIMESTAMP(NANOS) read without nanosAsLong")
      assert(viaMemo.isFailure,
        s"memo answered ${viaMemo.map(_.simpleString)} for nanosAsLong=false")
      spark.conf.set(key, "true")
      assert(viaMemo.get("ts").dataType == LongType)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
