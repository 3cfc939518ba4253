package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MetadataBuilder, StructType, TimestampNTZType}

import graft.engine.{ParquetCatalog, Scratch, TableSink}
import graft.queries.Inventory

/** `ParquetCatalog.read(spark, path)` must be `spark.read.parquet(path)`
  * without the schema-inference job: the same schema (field order,
  * types, nullability, metadata), the same rows, the same discovered
  * partition columns and the same error, and no Spark job while the
  * DataFrame is built.
  */
class ParquetCatalogSpec extends SparkSpec {

  private val root = Paths.get("target/parquet-catalog-fixtures")

  /** An absent path under the fixture root, for one fixture. */
  private def fresh(name: String): String = {
    val d = root.resolve(name)
    if (Files.exists(d)) Scratch.deleteTree(d)
    d.toString
  }

  /** What a read gives: its schema and rows (as sorted JSON, which
    * compares arrays, binaries and timestamps by value), or its
    * deepest cause's class and message — the outer message of a
    * failed inference job names stage and task ids, which differ
    * between two runs of the same failure.
    */
  private def outcome(read: => DataFrame): Either[String, (StructType, Seq[String])] =
    try {
      val df = read
      Right((df.schema, df.toJSON.collect().sorted.toSeq))
    } catch {
      case e: Exception =>
        val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        Left(s"${cause.getClass.getName}: ${cause.getMessage}")
    }

  private def assertSameRead(path: String, label: String): Unit = {
    val plain = outcome(spark.read.parquet(path))
    val viaFooter = outcome(ParquetCatalog.read(spark, path))
    assert(viaFooter === plain, s"$label ($path)")
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withNanosAsLong[T](on: Boolean)(body: => T): T =
    withConf("spark.sql.legacy.parquet.nanosAsLong", on.toString)(body)

  /** A file whose `ts` is INT64 TIMESTAMP(NANOS), which Spark cannot
    * write: read as `LongType` under nanosAsLong, an error without it.
    */
  private lazy val nanosFile: String = {
    val path = s"${fresh("nanos")}/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach(i => w.write(g.newGroup().append("event_id", i).append("ts", i * 1000000001L)))
    finally w.close()
    path
  }

  test("read equals the plain read on every harness table and ts encoding, nanosAsLong on and off") {
    val harness = Files.list(Paths.get(sf())).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(harness.size >= 10, s"harness tables: $harness")
    // events.ts as the loader has met it (TsEncodingSpec): µs TIMESTAMP,
    // µs TIMESTAMP_NTZ, ns as plain INT64, and ns TIMESTAMP(NANOS)
    val ev = Inventory.events(spark, sf())
    val encodings = Map(
      "us_ltz" -> ev,
      "us_ntz" -> ev.withColumn("ts", col("ts").cast(TimestampNTZType)),
      "ns_long" -> ev.withColumn("ts", expr("unix_micros(ts) * 1000L")))
      .map { case (enc, df) =>
        val p = s"${fresh(enc)}/events.parquet"
        df.coalesce(1).write.parquet(p)
        p
      }
    for (on <- Seq(true, false); p <- harness ++ encodings :+ nanosFile)
      withNanosAsLong(on)(assertSameRead(p, s"nanosAsLong=$on"))
    withNanosAsLong(true) {
      assert(ParquetCatalog.read(spark, nanosFile).schema("ts").dataType.typeName === "long")
    }
  }

  test("read equals the plain read on a TableSink.Parquet and a partition-only BucketedParquet output") {
    val meta = new MetadataBuilder().putString("comment", "kept through the footer").build()
    val df = spark.range(0, 200).select(
      col("id"),
      (col("id") % 5).cast("int").as("cell"),
      concat(lit("t"), col("id").cast("string")).as("term", meta),
      array(col("id").cast("float"), lit(0.5f)).as("vec"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") / 3).as("score"))

    val plainDir = fresh("sink_plain")
    new TableSink.Parquet(plainDir).write("t", df)
    assertSameRead(s"$plainDir/t", "TableSink.Parquet")
    assert(ParquetCatalog.read(spark, s"$plainDir/t").schema("term").metadata === meta)

    val partDir = fresh("sink_partitioned")
    new TableSink.BucketedParquet(partDir, Map.empty, partitions = Map("t" -> Seq("cell"))).write("t", df)
    assertSameRead(s"$partDir/t", "partition-only BucketedParquet")
    val read = ParquetCatalog.read(spark, s"$partDir/t")
    assert(read.schema.fieldNames.last === "cell", "the partition column is discovered, last")
    assert(read.schema("cell").dataType.typeName === "integer")
  }

  test("read opens the file Spark's inference opens: a summary file first, else the first data file " +
      "Spark's file index keeps") {
    val narrow = s"${fresh("narrow_src")}/f"
    val wide = s"${fresh("wide_src")}/f"
    spark.range(3).select(col("id").as("a")).coalesce(1).write.parquet(narrow)
    spark.range(3).select(col("id").as("a"), lit("x").as("b")).coalesce(1).write.parquet(wide)
    def dataFile(dir: String) =
      Files.list(Paths.get(dir)).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get

    def dirOf(name: String, files: (Path, String)*): String = {
      val d = Files.createDirectories(Paths.get(fresh(name)))
      files.foreach { case (src, to) =>
        Files.createDirectories(d.resolve(to).getParent)
        Files.copy(src, d.resolve(to), StandardCopyOption.REPLACE_EXISTING)
      }
      d.toString
    }
    // the first data file in path order decides, whichever is wider,
    // among the files Spark's index keeps: a plain subdirectory's files
    // are left out, and so is a top-level file beside `k=v` directories
    for ((first, second) <- Seq(narrow -> wide, wide -> narrow)) {
      val d = dirOf("order", dataFile(first) -> "part-a.parquet", dataFile(second) -> "part-b.parquet")
      assertSameRead(d, s"first data file from $first")
      val nested = dirOf("nested", dataFile(first) -> "a/part-0.parquet", dataFile(second) -> "part-0.parquet")
      assertSameRead(nested, s"first data file from $first, in a plain subdirectory")
      val mixed = dirOf("mixed", dataFile(first) -> "a-part.parquet", dataFile(second) -> "k=1/part-0.parquet")
      assertSameRead(mixed, s"first data file from $first, beside a partition directory")
      // a session that merges schemas reads every footer; read leaves that to Spark
      withConf("spark.sql.parquet.mergeSchema", "true") {
        assertSameRead(d, "mergeSchema")
        assert(ParquetCatalog.read(spark, d).columns.toSeq === Seq("a", "b"))
      }
    }
    // a summary file beats every data file; _common_metadata beats _metadata
    val summary = dirOf("summary", dataFile(narrow) -> "part-a.parquet", dataFile(wide) -> "_metadata")
    assertSameRead(summary, "_metadata")
    assert(ParquetCatalog.read(spark, summary).columns.toSeq === Seq("a", "b"))
    Files.copy(dataFile(narrow), Paths.get(summary, "_common_metadata"))
    assertSameRead(summary, "_common_metadata")
    assert(ParquetCatalog.read(spark, summary).columns.toSeq === Seq("a"))
  }

  test("read fails as the plain read does on a missing path and an empty directory") {
    val missing = s"${fresh("missing")}/nothing.parquet"
    val empty = Files.createDirectories(Paths.get(fresh("empty"))).toString
    for (p <- Seq(missing, empty)) {
      val plain = outcome(spark.read.parquet(p))
      assert(plain.isLeft, s"the plain read of $p must fail")
      assertSameRead(p, "failing read")
    }
  }

  test("read fires no Spark job while the DataFrame is built; the plain read fires one") {
    val p = s"${sf()}/lineitem.parquet"
    val (df, jobs) = jobsDuring(ParquetCatalog.read(spark, p))
    assert(jobs === 0)
    assert(df.columns.contains("l_orderkey"))
    assert(jobsDuring(spark.read.parquet(p))._2 === 1, "the listener must see the plain read's inference job")
  }

  test("no `.read.parquet(` under src/main/scala outside ParquetCatalog.read") {
    // a plain read runs the schema-inference job this reader removes
    val needle = ".read." + "parquet("
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) => s"$f:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(hits.isEmpty, s"read parquet through graft.engine.ParquetCatalog.read instead:\n${hits.mkString("\n")}")
  }
}
