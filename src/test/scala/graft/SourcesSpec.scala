package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ingest.Sources
import graft.multimodal.Multimodal

/** S1-S7 source/sink shapes + D2 timestamp sanitizer + multimodal plumbing. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("writePartitionedParquet: hive layout, bounded file count, pruned reads") {
    val dir = graft.streaming.Pipeline.tempRoot("wpp")
    val df = spark.range(0, 3000).select(
      (col("id") % 3).cast("string").as("part"),
      col("id").as("v")).repartition(16) // many input tasks
    Sources.writePartitionedParquet(df, dir, Seq("part"),
      filesPerPartition = 2, sortCols = Seq("v"))
    // hive-style directories, and ≤2 data files per partition despite the
    // 16 input tasks (a naive write would emit up to 16 per partition)
    val partDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(partDirs.toSeq === Seq("part=0", "part=1", "part=2"))
    partDirs.foreach { p =>
      val files = new java.io.File(s"$dir/$p").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files <= 2 && files >= 1, s"$p has $files files")
    }
    // roundtrip content + partition pruning reaches the scan
    val back = spark.read.parquet(dir)
    assert(back.count() === 3000)
    val pruned = back.filter(col("part") === "1")
    assert(pruned.count() === 1000)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), s"no pruning in plan:\n$scan")
  }

  test("D2 sanitizer handles all three observed wire formats") {
    val out = Seq(
      "2025-11-04 20:13:36.536371+00:00",  // solar log
      "2025-11-04T20:30:47.702372",        // wind log
      "2025-11-04 20:30:47 UTC",           // Azure log
      "not a time")
      .toDF("t").select(Sources.sanitizeTimestamp(col("t")).as("ts"))
      .collect().map(r => Option(r.getTimestamp(0)).map(_.toString))
    assert(out(0) === Some("2025-11-04 20:13:36.536371"))
    assert(out(1) === Some("2025-11-04 20:30:47.702372"))
    assert(out(2) === Some("2025-11-04 20:30:47.0"))
    assert(out(3) === None) // errors='coerce'
  }

  test("S1/S3 kafka shape roundtrip: key + JSON value -> decoded rows") {
    val df = Seq((1L, "S1", 10.5), (2L, "S2", 20.0))
      .toDF("event_id", "station_id", "value")
    val wire = Sources.toKafkaShape(df, "station_id")
    assert(wire.columns.toSeq === Seq("key", "value"))
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("station_id", StringType), StructField("value", DoubleType)))
    val back = Sources.decodeJson(wire, schema, tsCol = "none")
      .orderBy("event_id").collect()
    assert(back.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(back.map(_.getDouble(2)).toSeq === Seq(10.5, 20.0))
  }

  test("S1 kafka source: full option map + real data-source resolution") {
    // no broker or connector jar ships in this offline container (see the
    // kafkaSourceOptions scaladoc), so the live-poll tier can't run; what
    // CAN be asserted without a broker is asserted here:
    // (a) the exact options the stream builder hands to the kafka format
    val opts = Sources.kafkaSourceOptions("broker:9092", "telemetry")
    assert(opts === Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "telemetry",
      "startingOffsets" -> "earliest"))
    assert(Sources.kafkaSourceOptions("b", "t", "latest")("startingOffsets")
      === "latest")
    // (b) kafkaJsonStream reaches Spark's REAL data-source lookup for
    // "kafka" (not a stub): the failure must be the missing-artifact
    // resolution error, proving the builder/options path executes up to
    // the point only a connector jar could take further
    val schema = StructType(Seq(StructField("event_id", LongType)))
    val err = intercept[Exception] {
      Sources.kafkaJsonStream(spark, "broker:9092", "telemetry", schema)
    }
    assert(err.getMessage.toLowerCase.contains("kafka"))
  }

  test("S5/S6 csv sink + schema'd source roundtrip") {
    val dir = graft.streaming.Pipeline.tempRoot("csv")
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "k", "v")
    Sources.writeCsv(df, dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("k", StringType), StructField("v", DoubleType)))
    val back = Sources.csv(spark, dir, schema).orderBy("id").collect()
    assert(back.map(_.getDouble(2)).toSeq === Seq(1.5, 2.5))
  }

  test("jsonl sink + schema'd source roundtrip preserves values and nulls") {
    val dir = graft.streaming.Pipeline.tempRoot("jsonl")
    val df = Seq((1L, Some("a"), 1.5), (2L, None, 2.5)).toDF("id", "k", "v")
    Sources.writeJsonl(df, dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("k", StringType), StructField("v", DoubleType)))
    val back = Sources.jsonl(spark, dir, schema).orderBy("id").collect()
    assert(back.map(_.getDouble(2)).toSeq === Seq(1.5, 2.5))
    assert(back(1).isNullAt(1)) // JSON null/absent field -> SQL null
  }

  test("s08 orc sink + source roundtrip preserves types without a schema arg") {
    val dir = graft.streaming.Pipeline.tempRoot("orc")
    val df = Seq(
      (1L, "a", 1.5, java.sql.Timestamp.valueOf("2025-01-01 10:00:00")),
      (2L, "b", 2.5, java.sql.Timestamp.valueOf("2025-01-01 11:00:00")))
      .toDF("id", "k", "v", "t")
    Sources.writeOrc(df, dir)
    val back = Sources.orc(spark, dir)
    // schema travels in the file: types come back exact, no read-side cast
    assert(back.schema.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
  }

  test("multimodal: deterministic decode + metadata pass drop the blob") {
    val docs = Seq((1L, "hello world", "src0"), (2L, "hello world", "src1"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.asMediaTable(docs)
    val feats = Multimodal.decodeFeatures(spark, media).collect()
      .sortBy(_.doc_id)
    assert(feats.length === 2)
    assert(feats(0).copy(doc_id = 2L) === feats(1)) // same bytes -> same features
    assert(feats(0).byte_len === 11L)
    val meta = Multimodal.mediaMetadata(media)
    assert(meta.columns.toSeq ===
      Seq("doc_id", "byte_len", "content_id", "size_bucket"))
    assert(meta.filter(col("content_id").isNull).count() === 0)
  }

  test("multimodal: phash groups exact byte duplicates, splits distinct content") {
    val docs = Seq((1L, "hello world", "a"), (2L, "hello world", "b"),
      (3L, "completely different bytes", "c"))
      .toDF("doc_id", "text", "source")
    val got = Multimodal.phashGroups(spark, Multimodal.asMediaTable(docs))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // same bytes -> same fingerprint, group of 2; distinct bytes -> its own
    assert(got(1L)._1 === got(2L)._1 && got(1L)._2 === 2L)
    assert(got(3L)._1 !== got(1L)._1)
    assert(got(3L)._2 === 1L)
    // the bitstring contract: 64 chars of 0/1, neither all-zero nor
    // all-one (the mean split guarantees both sides are populated unless
    // every pixel ties — impossible with a strict > compare and any
    // non-constant pixel stream)
    got.values.foreach { case (p, _) =>
      assert(p.length === 64 && p.forall(c => c == '0' || c == '1'))
      assert(p.contains('0') && p.contains('1'))
    }
    // pure-function parity with the direct API
    val direct = Multimodal.perceptualHash("hello world".getBytes("UTF-8"))
    assert(got(1L)._1 === direct)
  }
}
