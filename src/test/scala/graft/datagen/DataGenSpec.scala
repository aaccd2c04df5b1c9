package graft.datagen

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.avro.AvroSchemas

/** Traffic-pattern table tests mirror the reference suite
  * (reference: internal/pipeline/traffic_pattern_test.go:9-172). */
class TrafficPatternsSpec extends SparkSpec {

  test("parse: table cases from the reference suite") {
    assert(TrafficPatterns.parse("", 100).patterns.isEmpty)
    assert(TrafficPatterns.parse("30s-60s:300%", 100).patterns.size == 1)
    assert(TrafficPatterns.parse("30s-60s:300%,90s-120s:200%", 100).patterns.size == 2)
    def bad(s: String) = intercept[IllegalArgumentException](TrafficPatterns.parse(s, 100))
    bad("30s-60s:300")          // missing percentage
    bad("30s-60s")              // missing colon
    bad("invalid-60s:300%")     // bad duration
    bad("30s-60s:300%,45s-90s:200%") // overlap
    bad("60s-30s:300%")         // end before start
    bad("30s-60s:-50%")         // non-positive rate
  }

  test("rateAt: piecewise values (before/during/between/during/after)") {
    val tp = TrafficPatterns.parse("30s-60s:300%,90s-120s:200%", 100)
    assert(tp.rateAt(15000) == 100)
    assert(tp.rateAt(45000) == 300)
    assert(tp.rateAt(75000) == 100)
    assert(tp.rateAt(100000) == 200)
    assert(tp.rateAt(150000) == 100)
    // boundaries: start inclusive, end exclusive
    assert(tp.rateAt(30000) == 300)
    assert(tp.rateAt(60000) == 100)
  }

  test("go-style durations: compound and fractional") {
    val tp = TrafficPatterns.parse("1m30s-2m:150%,2m30s-1.5h:50%", 10)
    assert(tp.patterns.head.startMs == 90000)
    assert(tp.patterns.head.endMs == 120000)
    assert(tp.patterns(1).endMs == 5400000)
  }

  test("rowsBetween: budgets telescope to the exact total") {
    val tp = TrafficPatterns.parse("2s-4s:250%", 7) // 7/s base, 17.5/s in spike
    val total = tp.rowsBetween(0, 10000)
    // integral: 7*8s + 17.5*2s = 56 + 35 = 91
    assert(total == 91)
    val ticks = (0L until 10000L by 700L).map(t => tp.rowsBetween(t, math.min(t + 700, 10000)))
    assert(ticks.sum == total)
  }
}

class DataGenSpec extends SparkSpec {

  private val schema = AvroSchemas.parse(
    """{"type":"record","name":"GenEvent","fields":[
      |  {"name":"event_id","type":"string"},
      |  {"name":"email","type":"string"},
      |  {"name":"event_type","type":"string"},
      |  {"name":"status","type":["null","string"]},
      |  {"name":"count","type":"int"},
      |  {"name":"score","type":"double"},
      |  {"name":"ok","type":"boolean"},
      |  {"name":"when","type":{"type":"long","logicalType":"timestamp-millis"}},
      |  {"name":"kind","type":{"type":"enum","name":"K","symbols":["A","B","C"]}}
      |]}""".stripMargin)

  test("generates n rows with the reference's name pools, deterministically") {
    val df = DataGen.rows(spark, schema, 200)
    assert(df.count() == 200)
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSet.size == 200) // event_id unique per row
    assert(rows.forall(_.getString(0).startsWith("event_id-")))
    assert(rows.forall(_.getString(1).matches("user\\d+@example\\.com")))
    val types = rows.map(_.getString(2)).toSet
    assert(types.subsetOf(Set("click", "view", "purchase", "signup", "login")))
    assert(types.size > 1) // pool actually varies
    assert(rows.forall(r => Set("A", "B", "C").contains(r.getString(8))))
    assert(rows.forall(r => r.getInt(4) >= 0 && r.getInt(4) < 10000))
    // deterministic: same seed → identical values
    val again = DataGen.rows(spark, schema, 200).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("generated rows survive a Confluent wire round trip (schema conformance)") {
    import org.apache.spark.sql.functions._
    val df = DataGen.rows(spark, schema, 20)
    val encoded = df.select(graft.avro.ConfluentWire.encode(
      struct(df.columns.map(col): _*), schema.content, 1).as("wire"))
    val back = encoded.select(graft.avro.ConfluentWire.decode(col("wire"), schema.content).as("v"))
      .select("v.*")
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }

  test("rated producer writes the exact integral of the traffic pattern") {
    val t = graft.streaming.FileTopics(
      java.nio.file.Files.createTempDirectory("graft-datagen").toString)
    val tp = TrafficPatterns.parse("2s-4s:300%", 5) // 5/s; 15/s in [2s,4s)
    val produced = RatedProducer.run(spark, t, "gen-topic", schema, tp, durationMs = 6000)
    // integral: 5*4 + 15*2 = 50
    assert(produced == 50)
    val back = t.readAll(spark, "gen-topic", schema.structType)
    assert(back.count() == 50)
    // ids are contiguous across ticks (resumable determinism)
    assert(back.select("event_id").collect().map(_.getString(0)).toSet ==
      (0 until 50).map(i => s"event_id-$i").toSet)
  }

  test("rated producer writes the whole run in one job, the rows 1 s ticks would write") {
    val t = graft.streaming.FileTopics(
      java.nio.file.Files.createTempDirectory("graft-datagen").toString)
    val tp = TrafficPatterns.parse("2s-4s:300%", 5) // three rate segments over 6 s
    val sc = spark.sparkContext
    val group = s"rated-producer-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val produced =
      try {
        sc.setJobGroup(group, "rated producer")
        try RatedProducer.run(spark, t, "gen-topic", schema, tp, durationMs = 6000)
        finally sc.clearJobGroup()
      } finally {
        org.apache.spark.graft.ListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(produced == 50)
    assert(jobs.get == 1, s"one write expected, saw ${jobs.get} jobs")
    // the per-tick output: one DataGen.rows batch per 1 s window, ids
    // continuing from the previous window
    val windows = (0L until 6000L by 1000L).map(w => tp.rowsBetween(w, w + 1000))
    val starts = windows.scanLeft(0L)(_ + _)
    val ticks = windows.zip(starts).map { case (n, start) =>
      DataGen.rows(spark, schema, n, startId = start) }.reduce(_ union _)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(sorted(t.readAll(spark, "gen-topic", schema.structType)) == sorted(ticks))
  }
}
