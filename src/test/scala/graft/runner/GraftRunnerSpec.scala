package graft.runner

import java.nio.file.Files

import graft.SparkSpec
import graft.datagen.TrafficPatterns
import graft.statements.SqlStatement

/** End-to-end orchestrator run over a scaffolded project — the `pipegen
  * run` lifecycle (reference runner.go:169-448) against the file-backed
  * transport. */
class GraftRunnerSpec extends SparkSpec {

  private def scaffold(processing: String =
      "INSERT INTO output_results SELECT event_id, score * 2 AS boosted FROM input_events"
  ): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-project")
    Files.createDirectories(dir.resolve("sql"))
    Files.createDirectories(dir.resolve("schemas"))
    Files.writeString(dir.resolve("schemas/input.avsc"),
      """{"type":"record","name":"InputEvent","namespace":"graft.generated","fields":[
        |  {"name":"event_id","type":"string"},
        |  {"name":"event_type","type":"string"},
        |  {"name":"score","type":"double"}
        |]}""".stripMargin)
    Files.writeString(dir.resolve("schemas/output_result.avsc"),
      """{"type":"record","name":"OutputResult","namespace":"graft.generated","fields":[
        |  {"name":"event_id","type":"string"},
        |  {"name":"boosted","type":"double"}
        |]}""".stripMargin)
    // the reference's 3-statement local template shape
    // (01_create_source_table / 02_create_output_table / 03_create_processing)
    Files.writeString(dir.resolve("sql/01_create_source_table.sql"),
      """-- source over the input topic
        |CREATE TABLE input_events (
        |  event_id STRING, event_type STRING, score DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = '${INPUT_TOPIC}')""".stripMargin)
    Files.writeString(dir.resolve("sql/02_create_output_table.sql"),
      """CREATE TABLE output_results (
        |  event_id STRING, boosted DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = '${OUTPUT_TOPIC}')""".stripMargin)
    Files.writeString(dir.resolve("sql/03_create_processing.sql"), processing)
    dir
  }

  test("bounded run: produce -> INSERT-SELECT -> output validated, report written") {
    val project = scaffold()
    val cfg = GraftRunner.Config(
      projectDir = project,
      runDir = Files.createTempDirectory("graft-run"),
      messageRate = 40,
      durationMs = 2000) // 40/s * 2s = 80 rows
    val res = GraftRunner.run(spark, cfg)
    assert(res.produced == 80)
    assert(res.outputRows == 80)
    assert(res.status == "SUCCESS")
    assert(res.resources.inputTopic == "input-events")
    assert(res.resources.outputTopic == "output-results")
    assert(res.queryStats.exists(_.totalInputRows == 80))
    val report = res.reportPath.get
    val html = Files.readString(report)
    assert(html.contains(res.executionId) && html.contains("SUCCESS") && html.contains("80"))
  }

  test("bounded multi-stage pipeline: chained INSERTs run sequentially, not concurrently") {
    // stage 2 reads the topic stage 1 writes — AvailableNow snapshots its
    // input at query start, so concurrent starts made stage 2 see an
    // empty intermediate topic and finish with zero rows
    val dir = Files.createTempDirectory("graft-multistage")
    Files.createDirectories(dir.resolve("sql"))
    Files.createDirectories(dir.resolve("schemas"))
    Files.writeString(dir.resolve("schemas/input.avsc"),
      """{"type":"record","name":"InputEvent","namespace":"g","fields":[
        |  {"name":"event_id","type":"string"},
        |  {"name":"event_type","type":"string"},
        |  {"name":"score","type":"double"}
        |]}""".stripMargin)
    Files.writeString(dir.resolve("sql/01_source.sql"),
      """CREATE TABLE input_events (
        |  event_id STRING, event_type STRING, score DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = 'ms-in')""".stripMargin)
    Files.writeString(dir.resolve("sql/02_mid.sql"),
      """CREATE TABLE mid_events (
        |  event_id STRING, event_type STRING, score DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = 'ms-mid')""".stripMargin)
    Files.writeString(dir.resolve("sql/03_out.sql"),
      """CREATE TABLE output_results (
        |  event_id STRING, event_type STRING, score DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = 'ms-out')""".stripMargin)
    Files.writeString(dir.resolve("sql/04_stage1.sql"),
      "INSERT INTO mid_events SELECT event_id, event_type, score FROM input_events")
    Files.writeString(dir.resolve("sql/05_stage2.sql"),
      "INSERT INTO output_results SELECT event_id, event_type, score FROM mid_events")
    val res = GraftRunner.run(spark, GraftRunner.Config(
      projectDir = dir,
      runDir = Files.createTempDirectory("graft-ms-run"),
      messageRate = 30, durationMs = 1000)) // 30 rows
    assert(res.produced == 30)
    assert(res.outputRows == 30,
      s"stage 2 must see stage 1's output, got ${res.outputRows}")
    assert(res.status == "SUCCESS")
  }

  test("CSV-mode project runs end-to-end: filesystem source view, no producer") {
    val dir = Files.createTempDirectory("graft-csvmode")
    Files.createDirectories(dir.resolve("sql"))
    Files.createDirectories(dir.resolve("schemas"))
    Files.createDirectories(dir.resolve("data"))
    Files.writeString(dir.resolve("data/events.csv"),
      """event_id,event_type,score
        |e1,click,1.5
        |e2,view,2.0
        |e3,click,0.5
        |e4,buy,9.0
        |""".stripMargin)
    Files.writeString(dir.resolve("schemas/input.avsc"),
      """{"type":"record","name":"InputEvent","namespace":"g","fields":[
        |  {"name":"event_id","type":"string"},
        |  {"name":"event_type","type":"string"},
        |  {"name":"score","type":"double"}
        |]}""".stripMargin)
    // the Scaffold.initFromCsv statement shape (Ddl.csvSourceTable)
    Files.writeString(dir.resolve("sql/01_create_source_table.sql"),
      s"""CREATE TABLE input_events (
         |  event_id STRING, event_type STRING, score DOUBLE
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${dir.resolve("data")}',
         |  'format' = 'csv',
         |  'csv.ignore-parse-errors' = 'true'
         |)""".stripMargin)
    Files.writeString(dir.resolve("sql/02_create_output_table.sql"),
      """CREATE TABLE output_results (
        |  event_id STRING, boosted DOUBLE
        |) WITH ('connector' = 'kafka', 'topic' = 'csv-out')""".stripMargin)
    Files.writeString(dir.resolve("sql/03_create_processing.sql"),
      "INSERT INTO output_results SELECT event_id, score * 2 AS boosted FROM input_events")
    val res = GraftRunner.run(spark, GraftRunner.Config(
      projectDir = dir,
      runDir = Files.createTempDirectory("graft-csv-run"),
      durationMs = 500))
    assert(res.produced == 0, "CSV mode must not produce synthetic traffic")
    assert(res.outputRows == 4, s"all CSV rows must flow through, got ${res.outputRows}")
    assert(res.status == "SUCCESS")
  }

  test("continuous run: standing query stops at expected count") {
    val project = scaffold()
    val cfg = GraftRunner.Config(
      projectDir = project,
      runDir = Files.createTempDirectory("graft-run"),
      messageRate = 30,
      durationMs = 1000,
      continuous = true,
      generateReport = false)
    val res = GraftRunner.run(spark, cfg)
    assert(res.produced == 30)
    assert(res.outputRows >= 30)
    assert(res.status == "SUCCESS")
  }

  test("bounded run whose SQL filters out every row reports 0 output rows") {
    val res = GraftRunner.run(spark, GraftRunner.Config(
      projectDir = scaffold(
        "INSERT INTO output_results SELECT event_id, score * 2 AS boosted FROM input_events WHERE score < 0"),
      runDir = Files.createTempDirectory("graft-run"),
      messageRate = 40, durationMs = 1000, generateReport = false))
    assert(res.produced == 40)
    assert(res.outputRows == 0)
    assert(res.status == "SUCCESS")
  }

  test("an unreadable output topic fails the run instead of reporting 0 rows") {
    // the only INSERT writes a mid topic; its SELECT plants a file in the
    // output topic that is gzip by name but not by content, so the
    // validating read of the output topic cannot decode it
    val dir = Files.createTempDirectory("graft-unreadable")
    Files.createDirectories(dir.resolve("sql"))
    Files.createDirectories(dir.resolve("schemas"))
    Files.writeString(dir.resolve("schemas/input.avsc"),
      """{"type":"record","name":"InputEvent","namespace":"g","fields":[
        |  {"name":"event_id","type":"string"},
        |  {"name":"score","type":"double"}
        |]}""".stripMargin)
    Files.writeString(dir.resolve("sql/01_source.sql"),
      "CREATE TABLE input_events (event_id STRING, score DOUBLE) WITH ('connector' = 'kafka', 'topic' = 'ur-in')")
    Files.writeString(dir.resolve("sql/02_mid.sql"),
      "CREATE TABLE mid_events (event_id STRING, score DOUBLE) WITH ('connector' = 'kafka', 'topic' = 'ur-mid')")
    Files.writeString(dir.resolve("sql/03_out.sql"),
      "CREATE TABLE output_results (event_id STRING, score DOUBLE) WITH ('connector' = 'kafka', 'topic' = 'ur-out')")
    Files.writeString(dir.resolve("sql/04_stage.sql"),
      "INSERT INTO mid_events SELECT plant_unreadable(event_id) AS event_id, score FROM input_events")
    val runDir = Files.createTempDirectory("graft-ur-run")
    val planted = runDir.resolve("topics/ur-out/part-00000-planted.json.gz").toString
    spark.udf.register("plant_unreadable", (id: String) => {
      Files.write(java.nio.file.Paths.get(planted), "not gzip".getBytes("UTF-8"))
      id
    })
    val e = intercept[org.apache.spark.SparkException](GraftRunner.run(spark,
      GraftRunner.Config(projectDir = dir, runDir = runDir, messageRate = 10,
        durationMs = 1000, generateReport = false)))
    assert(e.getMessage.contains("FAILED_READ_FILE") && e.getMessage.contains("planted.json.gz"))
  }

  test("destructive statement aborts the run before deployment") {
    val project = scaffold()
    Files.writeString(project.resolve("sql/00_evil.sql"), "DELETE FROM input_events")
    val cfg = GraftRunner.Config(project, Files.createTempDirectory("graft-run"),
      generateReport = false)
    val e = intercept[IllegalArgumentException](GraftRunner.run(spark, cfg))
    assert(e.getMessage.contains("DELETE FROM"))
  }

  test("traffic patterns exceeding duration are rejected (A26)") {
    val tp = TrafficPatterns.parse("5s-10s:200%", 100)
    val e = intercept[IllegalArgumentException](
      GraftRunner.validatePatternDuration(tp, 8000))
    assert(e.getMessage.contains("exceeds producer duration"))
  }

  test("CSV-mode sniff (A27)") {
    val csvStmt = SqlStatement("01",
      "CREATE TABLE src (id INT) WITH ('connector' = 'filesystem', 'format' = 'csv', 'path' = '/data')", "", 1)
    assert(GraftRunner.isCsvMode(Seq(csvStmt)))
    assert(!GraftRunner.isCsvMode(Seq(SqlStatement("01",
      "CREATE TABLE src (id INT) WITH ('connector' = 'kafka', 'topic' = 't')", "", 1))))
  }

  test("resource naming follows the reference scheme") {
    val withTopics = Resources.generate(Seq(
      SqlStatement("01", "CREATE TABLE a (x INT) WITH ('topic' = 'in-t')", "", 1),
      SqlStatement("02", "CREATE TABLE b (x INT) WITH ('topic' = 'out-t')", "", 2)))
    assert(withTopics.inputTopic == "in-t" && withTopics.outputTopic == "out-t")
    val defaults = Resources.generate(Seq(SqlStatement("01", "SELECT 1", "", 1)))
    assert(defaults.topics == Seq("input-events", "output-results", "processed-events"))
    val cloud = Resources.generate(Seq.empty, localMode = false)
    assert(cloud.prefix.matches("graft-\\d{8}-\\d{6}-[0-9a-f]{8}"))
    assert(cloud.inputTopic == s"${cloud.prefix}-input")
  }

  test("error suggester maps failure patterns to remediations (A31)") {
    assert(ErrorSuggester.suggest("java.net.ConnectException: Connection refused").isDefined)
    assert(ErrorSuggester.suggest("checkpoint location mismatch").get.contains("heckpoint"))
    assert(ErrorSuggester.suggest("totally novel failure").isEmpty)
  }
}
