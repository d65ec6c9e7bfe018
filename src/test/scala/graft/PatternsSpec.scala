package graft

import org.apache.spark.sql.functions._
import graft.patterns._
import graft.parsers.{CdcParser, EnvelopeParser}

class PatternsSpec extends SparkSpec {
  import spark.implicits._

  test("FilterInterceptor filters and registers observation metrics") {
    val df = Seq(1, 2, 3, 4, 5).toDF("x")
    val out = FilterInterceptor("gt2", col("x") > 2)(df)
    assert(out.collect().map(_.getInt(0)).sorted === Array(3, 4, 5))
  }

  test("ParallelSplitter first-match-wins and sideOutput partition the input") {
    val df = Seq((1, "a"), (2, "b"), (3, "a"), (4, "c")).toDF("id", "tag")
    val sp = ParallelSplitter(Seq(Route("as", $"tag" === "a"), Route("ones", $"id" === 1)))
    val routed = sp.routed(df).select("id", "route").as[(Int, String)].collect().toMap
    assert(routed === Map(1 -> "as", 2 -> "main", 3 -> "as", 4 -> "main"))
    // sideOutputs + main must be a disjoint cover
    val total = Seq("as", "ones", "main").map(n => sp.sideOutput(df, n).count()).sum
    assert(total === df.count())
  }

  test("ParallelSplitter exploded copies to every matching route plus main") {
    val df = Seq((1, "a")).toDF("id", "tag")
    val sp = ParallelSplitter(Seq(Route("as", $"tag" === "a"), Route("ids", $"id" === 1)))
    val routes = sp.exploded(df).select("route").as[String].collect().sorted
    assert(routes === Array("as", "ids", "main"))
  }

  test("MetadataDecorator stamps stage keys, preserves existing metadata, handles null map") {
    val df = Seq(
      ("e1", Map("a" -> "1")),
      ("e2", null.asInstanceOf[Map[String, String]])
    ).toDF("id", "metadata")
    val out = MetadataDecorator("s1", "task", clock = lit("2024-01-01").cast("timestamp"), subtask = lit(7))(df)
    val byId = out.select($"id", element_at($"metadata", "stage.s1.taskName")).as[(String, String)].collect().toMap
    assert(byId("e1") === "task" && byId("e2") === "task")
    val a = out.filter($"id" === "e1").select(element_at($"metadata", "a")).as[String].head()
    assert(a === "1")
  }

  test("SchemaEnforcer: newest-first version matching and violation aggregation") {
    val df = Seq(
      (1, """{"k": 5}"""), // passes v2 (NUMBER, strict)
      (2, """{"k": "s"}"""), // fails v2 type, passes v1 (ANY)
      (3, """{"z": 1}"""), // missing k everywhere -> DLQ
      (4, """garbage""") // invalid json -> DLQ
    ).toDF("id", "payloadJson")
    val enf = SchemaEnforcer("payloadJson", Seq(
      SchemaVersion(2, Seq(FieldSpec("k", FieldType.NUMBER)), strict = true),
      SchemaVersion(1, Seq(FieldSpec("k", FieldType.ANY)))
    ))
    val (good, bad) = enf.enforce(df)
    val g = good.select("id", "matched_version").as[(Int, Int)].collect().toMap
    assert(g === Map(1 -> 2, 2 -> 1))
    val b = bad.select("id", "violations").as[(Int, String)].collect().toMap
    assert(b(3) === "v2:[missing:k,unknown:z];v1:[missing:k]")
    assert(b(4).contains("invalid:payload"))
  }

  test("SchemaEnforcer: optional fields may be absent but must type-check when present") {
    val df = Seq(
      (1, """{"k": 1}"""), // opt absent -> ok
      (2, """{"k": 1, "opt": "s"}"""), // opt present+string -> ok
      (3, """{"k": 1, "opt": [1]}""") // opt present wrong type -> violation
    ).toDF("id", "payloadJson")
    val enf = SchemaEnforcer("payloadJson", Seq(SchemaVersion(1, Seq(
      FieldSpec("k", FieldType.NUMBER),
      FieldSpec("opt", FieldType.STRING, required = false)
    ))))
    val (good, bad) = enf.enforce(df)
    assert(good.select("id").as[Int].collect().sorted === Array(1, 2))
    assert(bad.select("violations").as[String].head() === "v1:[type:opt]")
  }

  test("RangeRule: non-numeric string values are violations") {
    val df = Seq(("1", "5"), ("2", "abc"), ("3", null.asInstanceOf[String])).toDF("id", "n")
    val (good, bad) = ConstraintEnforcer(Seq(RangeRule("n", 0, 10))).enforce(df)
    assert(good.select("id").as[String].collect().sorted === Array("1", "3")) // null passes range (NotNull is a separate rule)
    assert(bad.select("violations").as[String].head() === "n is not a number")
  }

  test("SchemaEnforcer: BOOLEAN/MAP/LIST type gates") {
    val df = Seq(
      (1, """{"b": true, "m": {"x":1}, "l": [1,2]}"""),
      (2, """{"b": 1, "m": [], "l": {}}""")
    ).toDF("id", "payloadJson")
    val enf = SchemaEnforcer("payloadJson", Seq(SchemaVersion(1, Seq(
      FieldSpec("b", FieldType.BOOLEAN),
      FieldSpec("m", FieldType.MAP),
      FieldSpec("l", FieldType.LIST)
    ))))
    val (good, bad) = enf.enforce(df)
    assert(good.select("id").as[Int].collect() === Array(1))
    assert(bad.select("violations").as[String].head() === "v1:[type:b,type:m,type:l]")
  }

  test("ConstraintEnforcer: rules split good/bad with messages") {
    val df = Seq(
      (1, "a@b.co", 5.0),
      (2, "nomail", 5.0),
      (3, "c@d.ee", -1.0),
      (4, null.asInstanceOf[String], 5.0)
    ).toDF("id", "email", "score")
    val enf = ConstraintEnforcer(Seq(
      NotNullRule("email"),
      FormatRule.email("email"),
      RangeRule("score", 0, 10)
    ))
    val (good, bad) = enf.enforce(df)
    assert(good.select("id").as[Int].collect().sorted === Array(1))
    val b = bad.select("id", "violations").as[(Int, String)].collect().toMap
    assert(b(2) === "email bad email")
    assert(b(3) === "score out of range")
    assert(b(4) === "email is null")
  }

  test("EnvelopeParser: good/bad split, eventTime default, processedTime stamp") {
    val clock = lit("2024-06-01 00:00:00").cast("timestamp")
    val df = Seq(
      """{"operation":"insert","source":"s","primaryKey":"k1","eventTime":"2024-01-01T00:00:00.000000Z"}""",
      """{"operation":"update","source":"s","primaryKey":"k2"}""", // no eventTime -> clock
      """not json at all""",
      """{"broken""",
      // `{...}`-shaped but malformed: from_json gives a struct of nulls,
      // which must still be a parse error, not an empty envelope
      """{"operation":"insert","source"}"""
    ).toDF("value")
    val (good, bad) = EnvelopeParser.parse(df, "value", clock = clock)
    assert(good.count() === 2)
    val byKey = good.select($"primaryKey", unix_micros($"eventTime")).as[(String, Long)].collect().toMap
    assert(byKey("k1") === 1704067200000000L)
    assert(byKey("k2") === 1717200000000000L) // defaulted to clock
    assert(bad.count() === 3)
    assert(bad.select("errorType").as[String].collect().toSet === Set("PARSING_ERROR"))
    assert(bad.filter($"rawEvent" === """{"operation":"insert","source"}""").count() === 1)
  }

  test("CdcParser: op normalization and payload decision tree") {
    val mkTs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq(
      ("c", """{"_id": 1}""", """{"_id": 1, "v": 10}""", null.asInstanceOf[String]),
      ("u", """{"_id": 2}""", null.asInstanceOf[String], """{"v": 20}"""), // update fallback: merge
      ("replace", """{"_id": 3}""", """{"_id": 3, "v": 30}""", null.asInstanceOf[String]),
      ("d", """{"_id": 4}""", null.asInstanceOf[String], null.asInstanceOf[String]),
      ("weird", """{"_id": 5}""", """{"_id": 5, "v": 50}""", null.asInstanceOf[String])
    ).toDF("op", "documentKey", "fullDocument", "updatedFields")
      .withColumn("db", lit("db"))
      .withColumn("collection", lit("coll"))
      .withColumn("eventTime", lit(mkTs))
    val out = CdcParser.parse(df, clock = lit(mkTs))
    val rows = out
      .select($"primaryKey", $"operation", get_json_object($"payloadJson", "$.v").as("v"))
      .as[(String, String, Option[String])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows("1") === ("insert", Some("10")))
    assert(rows("2") === ("update", Some("20"))) // merged updatedFields + documentKey
    assert(rows("3") === ("update", Some("30")))
    assert(rows("4") === ("delete", None)) // payload = documentKey
    assert(rows("5") === ("unknown", Some("50")))
  }

  test("PipelineBuilder: compose stages, accumulate DLQ from split stages") {
    val df = Seq((1, "{\"k\": 1}"), (2, "nope"), (3, "{\"k\": \"s\"}")).toDF("id", "payloadJson")
    val enforcer = SchemaEnforcer("payloadJson", Seq(
      SchemaVersion(1, Seq(FieldSpec("k", FieldType.NUMBER)))))
    val pb = graft.core.PipelineBuilder
      .from(df)
      .apply(FilterInterceptor("all", lit(true)))
      .applySplit { d =>
        val (good, bad) = enforcer.enforce(d)
        (good.drop("matched_version"),
          graft.core.Dlq.toDlq(bad, "SCHEMA_VIOLATION", col("violations"), "test",
            col("payloadJson"), lit("2024-01-01").cast("timestamp")))
      }
      .process(_.withColumn("processed", lit(true)))
    assert(pb.df.select("id").as[Int].collect().sorted === Array(1))
    val dlq = pb.deadLetters.get
    assert(dlq.count() === 2)
    assert(dlq.columns.toSeq === graft.core.Dlq.columns)
  }

  test("WatermarkAlignedFanIn requires >=2 sources and tags each") {
    val a = Seq((1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("id", "ts")
    val b = Seq((2, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"))).toDF("id", "ts")
    val fan = WatermarkAlignedFanIn("ts", "5 seconds")
    assertThrows[IllegalArgumentException](fan(Seq("a" -> a)))
    val out = fan(Seq("a" -> a, "b" -> b))
    val tags = out.select("ingestSource").as[String].collect().sorted
    assert(tags === Array("a", "b"))
  }
}
