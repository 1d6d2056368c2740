package graft.sources

import graft.SparkTestBase

import java.nio.file.{Files, Paths}

class TablesSpec extends SparkTestBase {

  test("scanFiles: recursive tree flatten + case-insensitive suffix (A1)") {
    val root = Files.createTempDirectory("graft-scan")
    Files.createDirectories(Paths.get(root.toString, "sub", "deep"))
    Files.writeString(Paths.get(root.toString, "a.lsp"), "x")
    Files.writeString(Paths.get(root.toString, "sub", "B.LSP"), "x")
    Files.writeString(Paths.get(root.toString, "sub", "deep", "c.lsp"), "x")
    Files.writeString(Paths.get(root.toString, "sub", "skip.txt"), "x")

    val got = Tables.scanFiles(spark, root.toString, ".lsp")
      .collect().map(_.getString(0)).toSet
    assert(got.size == 3, got)
    assert(got.exists(_.endsWith("B.LSP")), "match must be case-insensitive")
    assert(!got.exists(_.endsWith("skip.txt")))
  }

  test("scanFiles plans at most one partition per core over many small files") {
    val root = Files.createTempDirectory("graft-scan-many")
    val files = (0 until 240).map { i =>
      val dir = Files.createDirectories(Paths.get(root.toString, s"d${i % 8}"))
      val ext = if (i % 6 == 0) "txt" else "dwg"
      Files.writeString(dir.resolve(s"f$i.$ext"), "x" * (1 + i % 7))
    }
    val expected = files.filter(_.toString.endsWith(".dwg"))
      .map(f => (f.toString, Files.size(f))).toSet

    val cores = spark.sparkContext.defaultParallelism
    val raw = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(root.toString)
      .select("path", "length")
    assert(raw.rdd.getNumPartitions > cores,
      "the tree must be large enough that an uncoalesced scan splits it finer")

    val scan = Tables.scanFiles(spark, root.toString, ".dwg")
    assert(scan.rdd.getNumPartitions <= cores)
    val got = scan.collect()
      .map(r => (new java.net.URI(r.getString(0)).getPath, r.getLong(1))).toSet
    assert(got == expected)
  }

  test("readCsv isolates malformed rows in _corrupt_record (A12 analog)") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-csv")
    Files.writeString(Paths.get(dir.toString, "data.csv"),
      """id,qty
        |1,10
        |2,notanumber
        |3,30
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", IntegerType)))
    val df = Tables.readCsv(spark, dir.toString, schema).cache()
    val good = df.filter(df("_corrupt_record").isNull)
      .select("id", "qty").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val bad = df.filter(df("_corrupt_record").isNotNull)
      .select("_corrupt_record").collect().map(_.getString(0))
    assert(good == Set((1L, 10), (3L, 30)))
    assert(bad.toSeq == Seq("2,notanumber"))
    df.unpersist()
  }

  test("readJsonl isolates malformed lines in _corrupt_record") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonl")
    java.nio.file.Files.writeString(dir.resolve("docs.jsonl"),
      """{"doc_id": 1, "text": "alpha"}
        |{"doc_id": oops not json
        |{"doc_id": 3, "text": "gamma"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = Tables.readJsonl(spark, dir.toString, schema).cache()
    val good = df.filter(df("_corrupt_record").isNull)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val bad = df.filter(df("_corrupt_record").isNotNull).count()
    assert(good == Set((1L, "alpha"), (3L, "gamma")))
    assert(bad == 1)
    df.unpersist()
  }

  test("partitioned write prunes at planning time (PartitionFilters, exact rows)") {
    val docs = Tables(spark, sf(), "documents")
    val path = java.nio.file.Files.createTempDirectory("part").toString + "/docs"
    Tables.writePartitioned(docs, path, "lang")
    val read = spark.read.parquet(path)
    val one = read.filter(read("lang") === "en")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      "lang filter should prune partitions, not scan rows")
    assert(one.count() == docs.filter(docs("lang") === "en").count())
    assert(read.count() == docs.count())
  }

  test("readEvolved merges schemas across roots, null-filling missing columns") {
    import spark.implicits._
    val d1 = java.nio.file.Files.createTempDirectory("ev1").toString
    val d2 = java.nio.file.Files.createTempDirectory("ev2").toString
    Seq((1L, "a")).toDF("id", "text").write.mode("overwrite").parquet(d1)
    Seq((2L, "b", "en")).toDF("id", "text", "lang")
      .write.mode("overwrite").parquet(d2) // later vintage adds `lang`
    val merged = Tables.readEvolved(spark, d1, d2)
    assert(merged.columns.toSet == Set("id", "text", "lang"))
    val rows = merged.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(rows == Set((1L, "a", null), (2L, "b", "en")))
  }

  test("ORC interchange: round-trip, schema projection, loud retype") {
    import org.apache.spark.sql.types._
    val docs = Tables(spark, sf(), "documents")
    val dir = java.nio.file.Files.createTempDirectory("orc-io").toString
    Tables.writeOrc(docs, dir)
    // exact-schema read round-trips the multiset
    val back = Tables.readOrc(spark, dir,
      StructType(docs.schema.fields))
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    // expected schema with an extra column null-fills it at the right
    // type, and a narrower expected schema prunes the rest
    val wider = Tables.readOrc(spark, dir, StructType(Seq(
      StructField("doc_id", LongType),
      StructField("quality_tier", StringType))))
    assert(wider.columns.toSeq == Seq("doc_id", "quality_tier"))
    assert(wider.filter(org.apache.spark.sql.functions.col("quality_tier")
      .isNotNull).count() == 0)
    assert(wider.count() == docs.count())
    // an incompatible retype fails loudly at analysis, not row-by-row
    intercept[org.apache.spark.sql.AnalysisException] {
      Tables.readOrc(spark, dir, StructType(Seq(
        StructField("text", ArrayType(IntegerType))))).collect()
    }
  }

  test("events loader dispatches on the observed timestamp layout") {
    // The events fixture has shipped as TIMESTAMP(NANOS) (surfacing as
    // LongType under nanosAsLong), plain micros TIMESTAMP, and
    // TIMESTAMP_NTZ across fixture generations — schema evolution the
    // loader must absorb by dispatching on the OBSERVED footer type.
    // All three layouts of the same instant must read back identical.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val micros = 1700000000123456L // an exact-micros instant
    def dirFor(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"ev-$tag").toString
    // nanos era: raw long nanos column named ts
    val dNanos = dirFor("nanos")
    Seq((1L, micros * 1000L, 1L, "a", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dNanos/events.parquet")
    // micros era: a true TIMESTAMP column (UTC session)
    val dMicros = dirFor("micros")
    Seq((1L, 1L, "a", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(micros)))
      .write.mode("overwrite").parquet(s"$dMicros/events.parquet")
    // NTZ era: same wall-clock digits, no zone — equal instant under
    // the UTC session the engine pins
    val dNtz = dirFor("ntz")
    Seq((1L, 1L, "a", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        timestamp_micros(lit(micros)).cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dNtz/events.parquet")
    val got = Seq(dNanos, dMicros, dNtz).map { d =>
      val df = Tables(spark, d, "events")
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"$d ts type")
      df.select(unix_micros(col("ts"))).collect().head.getLong(0)
    }
    assert(got.forall(_ == micros), s"instants must agree: $got")
  }

  test("all ten fixture tables load with expected columns") {
    Tables.names.foreach { n =>
      val df = Tables(spark, sf(), n)
      assert(df.columns.nonEmpty && df.count() > 0, n)
    }
    // the nanos-timestamp path: ts must come back as a usable timestamp
    val ts = Tables(spark, sf(), "events").schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.TimestampType)
  }
}
