package graft

import scala.collection.mutable.ListBuffer
import scala.sys.process._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Catalog, Parquet}
import graft.queries.Scratch

/** `engine/Parquet` takes a read's data schema from one footer on the
  * driver instead of Spark's inference job. For every layout the engine
  * reads, its frame must equal a bare `spark.read.parquet` of the same
  * paths: field order, types, nullability and metadata, and rows. A
  * missing or empty table must fail with the same exception.
  */
class ParquetReadSpec extends SparkTestBase {
  import spark.implicits._

  private def assertParity(helper: DataFrame, bare: DataFrame): Unit = {
    assert(helper.schema.fields.toSeq === bare.schema.fields.toSeq)
    assert(helper.schema.map(_.metadata.json) === bare.schema.map(_.metadata.json))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = rows(helper)
    assert(got.nonEmpty)
    assert(got === rows(bare))
  }

  private val comment = new MetadataBuilder().putString("comment", "kept").build()

  /** Three days of typed rows, written as 3 files. */
  private def typed: DataFrame =
    Seq((1L, "a", "2024-03-01 10:00:00", "12.5"), (2L, null, "2024-03-01 23:59:59", "-0.000001"),
      (3L, "c", "2024-03-02 00:00:00", null), (4L, "d", "2024-03-03 12:30:00", "99999.125"))
      .toDF("id", "s", "ts0", "amt0")
      .select(col("id"), col("s").as("s", comment),
        col("ts0").cast(TimestampType).as("ts"),
        to_date(col("ts0")).as("day"),
        col("amt0").cast(DecimalType(38, 6)).as("amt"),
        lit(7L).as("seven")) // not nullable in the written frame
      .repartition(3)

  test("a flat table: decimal, timestamp, date and string columns, metadata kept") {
    val dir = Scratch.fresh(spark, "pq_flat")
    typed.write.parquet(dir)
    val helper = Parquet.read(spark, dir)
    assertParity(helper, spark.read.parquet(dir))
    assert(helper.schema("amt").dataType === DecimalType(38, 6))
    assert(helper.schema("s").metadata === comment)
    assert(helper.schema.forall(_.nullable))
  }

  test("a day= partitioned table: the partition column last, typed from the paths") {
    val dir = Scratch.fresh(spark, "pq_days")
    typed.write.partitionBy("day").parquet(dir)
    val helper = Parquet.read(spark, dir)
    assertParity(helper, spark.read.parquet(dir))
    assert(helper.columns.last === "day")
    assert(helper.schema("day").dataType === DateType)
    // Catalog.save's partitioned branch reads through the helper too
    val cat = new Catalog(spark, Scratch.fresh(spark, "pq_days_wh"))
    try assertParity(cat.save("t", typed, partitionBy = Seq("day")),
      spark.read.parquet(s"${cat.warehouse}/t"))
    finally cat.close()
  }

  test("the nested __batch_id=N/day=D fact layout, read through readBatches") {
    val cat = new Catalog(spark, Scratch.fresh(spark, "pq_batches"))
    try {
      val w1 = cat.writeBatch(cat.purgeBatches("f"), 1L,
        typed.filter(col("id") <= 2).write.partitionBy("day"))
      val w2 = cat.writeBatch(w1, 2L, typed.filter(col("id") > 2).write.partitionBy("day"))
      val b = cat.batches("f")
      assert(b.ids === w2.ids)
      val helper = cat.readBatches(b)
      assertParity(helper, spark.read.option("basePath", b.root)
        .parquet(b.ids.map(b.dir): _*))
      assert(helper.columns.takeRight(2).toSeq === Seq(Catalog.BatchKey, "day"))
      assert(helper.schema(Catalog.BatchKey).dataType === IntegerType)
    } finally cat.close()
  }

  test("a __delta= table") {
    val cat = new Catalog(spark, Scratch.fresh(spark, "pq_deltas"))
    try {
      val d = cat.writeBatch(cat.purgeBatches("m", Catalog.DeltaKey), 1L,
        typed.drop("day").write)
      cat.writeBatch(d, 2L, typed.drop("day").write): Unit
      val b = cat.batches("m", Catalog.DeltaKey)
      assertParity(cat.readBatches(b), spark.read.option("basePath", b.root)
        .parquet(b.ids.map(b.dir): _*))
    } finally cat.close()
  }

  test("the pyarrow-written testdata tables, and TIMESTAMP(NANOS) read as LongType") {
    Seq("events", "embeddings", "documents").foreach { n =>
      val f = s"$sfDir/$n.parquet"
      assertParity(Parquet.read(spark, f), spark.read.parquet(f))
    }
    val probe = ListBuffer.empty[String]
    if (Seq("python3", "-c", "import pyarrow").!(ProcessLogger(_ => (), probe += _)) != 0)
      cancel(s"python3 cannot import pyarrow: ${probe.mkString("\n")}")
    val f = s"${Scratch.fresh(spark, "pq_nanos")}.parquet"
    val script =
      s"""import pyarrow as pa, pyarrow.parquet as pq
         |pq.write_table(pa.table({
         |  "event_id": pa.array([1, 2, 3], pa.int64()),
         |  "ts": pa.array([1700000000123456789, -1, None], pa.timestamp("ns")),
         |  "event_type": ["click", None, "view"]}), "$f")""".stripMargin
    val out = ListBuffer.empty[String]
    assert(Seq("python3", "-c", script).!(ProcessLogger(out += _, out += _)) == 0,
      out.mkString("\n"))
    val helper = Parquet.read(spark, f)
    assertParity(helper, spark.read.parquet(f))
    assert(helper.schema("ts").dataType === LongType)
  }

  test("a missing or empty table fails as a bare read does") {
    val empty = Scratch.fresh(spark, "pq_empty")
    new java.io.File(empty).mkdirs(): Unit
    Seq(Scratch.fresh(spark, "pq_missing"), empty).foreach { p =>
      val bare = intercept[Exception](spark.read.parquet(p))
      val helper = intercept[Exception](Parquet.read(spark, p))
      assert(helper.getClass === bare.getClass)
      assert(helper.getMessage === bare.getMessage)
    }
  }
}
