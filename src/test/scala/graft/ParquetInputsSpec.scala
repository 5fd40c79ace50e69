package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ParquetInputs

/** `ParquetInputs` must return exactly what `spark.read.parquet` returns
  * (schema and rows), infer again whenever the files or the inference
  * confs change, and start no Spark job for a repeated read. Fixtures
  * are written to a fresh temp dir. */
class ParquetInputsSpec extends SparkSpec {

  private lazy val root =
    java.nio.file.Files.createTempDirectory("graft_pqin").toString

  private def sample: DataFrame = spark.range(0, 40).select(
    col("id"), (col("id") % 3).cast("int").as("p"),
    concat(lit("s"), (col("id") % 2).cast("string")).as("q"),
    (col("id") * 0.5).as("x"))

  /** Rows rendered by value (binary cells by their bytes), sorted. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** The reader's read of `path` equals a plain read in schema and rows. */
  private def assertSameAsPlain(path: String): DataFrame = {
    val got = ParquetInputs.read(spark, path)
    val want = spark.read.parquet(path)
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
    got
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[A](body: => A): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try { body; GraftTestBus.drain(sc); n.get } finally
      sc.removeSparkListener(l)
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a single file reads like spark.read.parquet") {
    val dir = s"$root/single"
    sample.coalesce(1).write.parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    assert(assertSameAsPlain(file).count() == 40)
  }

  test("a multi-part directory reads like spark.read.parquet") {
    val dir = s"$root/multi"
    sample.repartition(3).write.parquet(dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet")) == 3)
    assert(assertSameAsPlain(dir).count() == 40)
  }

  test("a Hive-partitioned directory keeps partition names, types, order") {
    val dir = s"$root/hive"
    sample.write.partitionBy("p", "q").parquet(dir)
    val df = assertSameAsPlain(dir)
    assert(df.schema.fields.takeRight(2).map(f => f.name -> f.dataType)
      .toSeq == Seq("p" -> IntegerType, "q" -> StringType))
    // a second read comes from the memo and must still agree
    assertSameAsPlain(dir)
  }

  test("an input overwritten with a different schema is inferred again") {
    // a single file replaced in place under the same name: only its
    // length and modification time change
    def partOf(df: DataFrame, dir: String): java.nio.file.Path = {
      df.coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
    }
    val file = java.nio.file.Paths.get(s"$root/overwrite.parquet")
    java.nio.file.Files.copy(partOf(sample, s"$root/ow_a"), file)
    assert(ParquetInputs.read(spark, file.toString).schema.fieldNames
      .toSeq == Seq("id", "p", "q", "x"))
    java.nio.file.Files.copy(
      partOf(spark.range(5).select(col("id").cast("string").as("name")),
        s"$root/ow_b"),
      file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(assertSameAsPlain(file.toString).schema ==
      StructType(Seq(StructField("name", StringType))))
    // a directory rewritten by Spark: new part files
    val dir = s"$root/overwrite_dir"
    sample.write.parquet(dir)
    assert(ParquetInputs.read(spark, dir).schema.fieldNames.length == 4)
    spark.range(5).select(col("id").cast("string").as("name"))
      .write.mode("overwrite").parquet(dir)
    assert(assertSameAsPlain(dir).schema ==
      StructType(Seq(StructField("name", StringType))))
  }

  test("binaryAsString changes force a fresh inference") {
    // Spark's own writer stores the Spark schema in the footer, which
    // inference prefers over binaryAsString; an un-annotated BINARY
    // column written through parquet-hadoop is what the conf affects
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val dir = s"$root/binary"
    val conf = spark.sparkContext.hadoopConfiguration
    val pqSchema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"), conf))
      .withType(pqSchema).withConf(conf).build()
    val groups = new SimpleGroupFactory(pqSchema)
    try (0 until 3).foreach(i => w.write(groups.newGroup()
      .append("id", i.toLong).append("b", Binary.fromString(s"v$i"))))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    withConf(key, "false") {
      assert(assertSameAsPlain(dir).schema("b").dataType == BinaryType)
    }
    withConf(key, "true") {
      assert(assertSameAsPlain(dir).schema("b").dataType == StringType)
    }
    withConf(key, "false") {
      assert(ParquetInputs.read(spark, dir).schema("b").dataType ==
        BinaryType)
    }
  }

  test("a second read of an unchanged path starts no Spark job") {
    val dir = s"$root/jobs"
    sample.repartition(2).write.parquet(dir)
    // the premise: a first read infers with a job
    assert(jobsDuring(ParquetInputs.read(spark, dir)) >= 1)
    assert(jobsDuring(ParquetInputs.read(spark, dir)) == 0)
    assert(jobsDuring(ParquetInputs.schema(spark, dir)) == 0)
  }

  test("a missing path fails like spark.read.parquet") {
    intercept[AnalysisException](
      ParquetInputs.read(spark, s"$root/no_such_input"))
  }

  test("the memo stays within its bound") {
    val dir = s"$root/bound"
    spark.range(2).write.parquet(dir)
    // the conf is part of the key: each value is a new entry
    for (i <- 0 until ParquetInputs.MaxEntries + 8)
      withConf("spark.graft.test.pqin", i.toString) {
        ParquetInputs.schema(spark, dir)
      }
    assert(ParquetInputs.memoSize == ParquetInputs.MaxEntries)
  }
}
