package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.parquet` infers a parquet schema once per file snapshot and
  * session schema confs, and passes the recorded schema on later reads,
  * so declaring a table read launches no Spark job. These cases pin the
  * job saving, the equality of the recorded schema with Spark's own
  * inference, and the two ways a recorded schema must be dropped: a
  * rewrite of the path and a flip of a parquet schema conf.
  */
class ParquetSchemaMemoSpec extends SparkSpec {

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region,
    "nation" -> Tables.nation,
    "customer" -> Tables.customer,
    "supplier" -> Tables.supplier,
    "part" -> Tables.part,
    "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem,
    "events" -> Tables.events,
    "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings)

  private def tempPath(): String =
    Files.createTempDirectory("graft_schema_memo").resolve("t.parquet").toString

  test("plain parquet schema inference runs a Spark job (the cost the memo removes)") {
    val jobs = jobsOf(spark.read.parquet(s"$sfDir/region.parquet"))
    assert(jobs >= 1, s"spark.read.parquet inferred the schema in $jobs jobs")
  }

  test("after one warm read, declaring every Tables.* read launches no Spark job") {
    loaders.foreach { case (_, load) => load(spark, sfDir) }
    loaders.foreach { case (name, load) =>
      val jobs = jobsOf(load(spark, sfDir))
      assert(jobs == 0, s"declaring Tables.$name again launched $jobs jobs")
    }
  }

  test("each recorded schema equals Spark's own inference") {
    loaders.foreach { case (name, _) =>
      val path = s"$sfDir/$name.parquet"
      Tables.parquet(spark, path)
      assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, s"table $name")
    }
  }

  test("a path overwritten with a different schema is inferred again") {
    import spark.implicits._
    val path = tempPath()
    Seq((1L, "a")).toDF("k", "s").write.parquet(path)
    Tables.parquet(spark, path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("k", "s"))
    Seq((2.5, 7, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(path)
    val df = Tables.parquet(spark, path)
    assert(df.schema.fieldNames.toSeq == Seq("x", "y", "z"))
    assert(df.as[(Double, Int, Boolean)].collect().toSeq == Seq((2.5, 7, true)))
  }

  test("flipping spark.sql.parquet.binaryAsString changes the read schema") {
    import spark.implicits._
    // Written without Spark's schema metadata, which would override the
    // conf: a plain parquet BINARY column, as non-Spark writers produce.
    val path = tempPath()
    val fileSchema = MessageTypeParser.parseMessageType("message t { required binary b; required int32 n; }")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$path/part-0.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(fileSchema)
      .build()
    try writer.write(new SimpleGroupFactory(fileSchema).newGroup().append("b", "k1").append("n", 1))
    finally writer.close()
    Tables.parquet(spark, path)
    assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      val df = Tables.parquet(spark, path)
      assert(df.schema("b").dataType == StringType)
      assert(df.select("b").as[String].collect().toSeq == Seq("k1"))
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
  }

  test("a read given a schema still fails on a vanished directory") {
    import spark.implicits._
    val path = tempPath()
    Seq(1L).toDF("k").write.parquet(path)
    val schema = Tables.parquet(spark, path).schema
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    intercept[Exception](spark.read.schema(schema).parquet(path))
    intercept[Exception](Tables.parquet(spark, path))
  }
}
