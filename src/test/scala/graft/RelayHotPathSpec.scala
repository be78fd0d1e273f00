package graft

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.connector.{FileTopicSource, TopicSink, TopicSource}
import graft.delivery.Delivery
import graft.model.ConsumerConfig
import graft.testkit.TempDirs.withTempDir

/** The relay's per-drain hot path: generated code is reused across the
  * streaming queries of successive drains, and the JSON decode parses
  * payload bytes in place with `from_json`'s results. */
class RelayHotPathSpec extends SparkSpec {
  import spark.implicits._

  test("a second relay drain compiles no new generated code") {
    withTempDir("graft-relay") { dir =>
      val envelope = (0 until 200).map { i =>
        (s"""{"id":$i,"user":${i % 7},"v":${i * 0.5}}""", (i % 7).toString, i.toLong)
      }.toDF("data", "partitionKey", "seq")
      envelope.repartition(4).write.parquet(s"$dir/topic")
      val src = FileTopicSource("relay", s"$dir/topic", "parquet", envelope.schema,
        ConsumerConfig(None, maxBatchSize = 2))
      val payload = StructType.fromDDL("id BIGINT, user BIGINT, v DOUBLE")

      def drain(n: Int): Unit = {
        TopicSink.CollectingSender.clear()
        Delivery.atLeastOnce(src.load(spark), "relay", s"$dir/ckpt-$n") { (b, _) =>
          val flowed = TopicSource.decodeJson(b, payload).select(col("payload.*"), col("seq"))
          TopicSink.writeOrdered(TopicSource.encodeJsonOrdered(flowed, "seq", Some("user")),
            "seq", () => new TopicSink.CollectingSender, numPartitions = 2)
        }.awaitTermination()
        assert(TopicSink.CollectingSender.sent.size == 200, s"drain $n delivers every record")
      }

      drain(1)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      drain(2)
      val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      assert(recompiled == 0, s"the second drain compiled $recompiled classes again")
    }
  }

  private val payloadSchema = StructType.fromDDL(
    "id BIGINT, name STRING, score DOUBLE, tags ARRAY<STRING>, at TIMESTAMP, " +
      "meta STRUCT<k: STRING, n: INT>")

  private def quoted(g: Gen[String]): Gen[String] = g.map(s => "\"" + s + "\"")

  // JSON source text, so escapes are written as they appear on the wire
  private val text: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(10)),
    Gen.const("naïve café ✓ 日本語 😀"),
    Gen.const("\\u00e9t\\u00e9 \\ud83d\\ude00 \\u0000"),
    Gen.const("tab\\tquote\\\"slash\\\\"))

  private val fields: Seq[(String, Gen[String])] = Seq(
    "id" -> Gen.oneOf(Gen.choose(-1000000L, 1000000L).map(_.toString),
      Gen.oneOf("\"12\"", "1.5", "null", "99999999999999999999", "true")),
    "name" -> Gen.oneOf(quoted(text), Gen.oneOf("123", "null", "{\"x\":1}", "[1,2]")),
    "score" -> Gen.oneOf(Gen.choose(-1e6, 1e6).map(_.toString),
      Gen.oneOf("NaN", "\"NaN\"", "\"1.25\"", "true", "1e400", "-0.0")),
    "tags" -> Gen.oneOf(Gen.listOfN(3, quoted(text)).map(_.mkString("[", ",", "]")),
      Gen.oneOf("[1, \"a\", null]", "\"notarray\"", "[]")),
    "at" -> Gen.oneOf("\"2024-03-01T12:34:56Z\"", "\"2024-03-01 12:34:56\"",
      "\"2024-03-01T12:34:56.123+05:30\"", "\"garbage\"", "1700000000"),
    "meta" -> Gen.oneOf(quoted(text).map(k => s"""{"k":$k,"n":7}"""),
      Gen.oneOf("{\"n\":\"x\"}", "[]", "{}")))

  private val extras: Gen[String] = Gen.oneOf(
    "\"extra\":{\"deep\":[1,2,{\"z\":\"é\"}]}", "\"Id\":5", "\"tags2\":[\"\\u2603\"]")

  /** A JSON object with a random subset of the schema's fields (values
    * possibly mistyped), in random order, plus possibly unknown ones. */
  private val obj: Gen[String] = for {
    present <- Gen.someOf(fields)
    values <- Gen.sequence[List[String], String](present.map { case (k, g) => g.map(v => s""""$k":$v""") })
    extra <- Gen.listOfN(2, extras).flatMap(e => Gen.choose(0, 2).map(e.take))
    shuffle <- Gen.long
  } yield new scala.util.Random(shuffle).shuffle(values ++ extra).mkString("{", ", ", "}")

  private val document: Gen[String] = Gen.frequency(
    8 -> obj,
    1 -> Gen.oneOf("", "   ", "null", "42", "\"str\"", "[]"),
    1 -> Gen.listOfN(2, obj).map(_.mkString("[", ",", "]")),
    1 -> obj.map(_ + " trailing"))

  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0x80), Array(0xC3), Array(0xC0, 0x80), Array(0xED, 0xA0, 0x80),
    Array(0xF4, 0x90, 0x80, 0x80), Array(0xFF), Array(0xE2, 0x82),
    Array(0xF8, 0x88, 0x80, 0x80, 0x80)).map(_.map(_.toByte))

  private def insert(b: Array[Byte], at: Int, what: Array[Byte]): Array[Byte] =
    b.take(at) ++ what ++ b.drop(at)

  /** Byte-level damage: truncation, a dropped or doubled structural
    * character, invalid UTF-8 (in a string value where there is one), a
    * UTF-8 BOM, NUL bytes near the start, or a UTF-16/32 encoding. */
  private def damaged(doc: String): Gen[Array[Byte]] = {
    val b = doc.getBytes(StandardCharsets.UTF_8)
    val inName = doc.indexOf("\"name\":\"") match {
      case -1 => None
      case i => Some(doc.substring(0, i + 8).getBytes(StandardCharsets.UTF_8).length)
    }
    Gen.frequency(
      6 -> Gen.const(b),
      1 -> Gen.choose(0, b.length).map(b.take),
      1 -> Gen.choose(0, b.length).flatMap(i => Gen.oneOf(
        b.take(i) ++ b.drop(i + 1), insert(b, i, Array(b.lift(i).getOrElse('}'.toByte))))),
      2 -> (for {
        bad <- Gen.oneOf(invalidUtf8)
        at <- inName.fold(Gen.choose(0, b.length))(Gen.const)
      } yield insert(b, at, bad)),
      1 -> Gen.const(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ b),
      1 -> Gen.choose(0, math.min(4, b.length)).map(insert(b, _, Array(0.toByte))),
      1 -> Gen.oneOf("UTF-16LE", "UTF-16BE", "UTF-16", "UTF-32LE").map(cs => doc.getBytes(cs)))
  }

  private val record: Gen[Option[Array[Byte]]] =
    Gen.frequency(1 -> Gen.const(None), 12 -> document.flatMap(damaged).map(Some(_)))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** `decodeJson`'s payload against `from_json` on the same frame. */
  private def assertSameAsFromJson(df: DataFrame, label: String): Unit = {
    val got = TopicSource.decodeJson(df, payloadSchema).select("id", "payload")
    val want = df.withColumn("payload", from_json(col("data").cast("string"), payloadSchema))
      .select("id", "payload")
    assert(got.schema == want.schema, s"$label: result type")
    val g = got.collect().sortBy(_.getLong(0))
    val w = want.collect().sortBy(_.getLong(0))
    assert(g.length == w.length)
    g.zip(w).foreach { case (a, b) =>
      assert(a == b, s"$label, record ${a.getLong(0)}: decodeJson $a, from_json $b")
    }
  }

  test("decodeJson's payload equals from_json's row for row, for string and binary data") {
    val envelope = StructType(Seq(StructField("id", LongType), StructField("data", BinaryType)))
    for (seed <- 1L to 3L) {
      val rows = sample(Gen.listOfN(300, record), seed).zipWithIndex
        .map { case (data, i) => Row(i.toLong, data.orNull) }
      // the optimizer folds a projection over a local relation with the
      // interpreted path; an RDD-backed frame runs the generated code
      val frames = Seq(
        "interpreted" -> spark.createDataFrame(rows.asJava, envelope),
        "generated" -> spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), envelope))
      for ((mode, binary) <- frames) {
        assertSameAsFromJson(binary, s"seed $seed, $mode, binary data")
        assertSameAsFromJson(binary.withColumn("data", col("data").cast("string")),
          s"seed $seed, $mode, string data")
      }
    }
  }
}
