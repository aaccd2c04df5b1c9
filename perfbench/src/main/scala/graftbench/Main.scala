package graftbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** One benchmark run of one workload in a fresh JVM:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      [--spans-out <file>]
  * }}}
  *
  * The run's scratch space is `java.io.tmpdir`, which the launcher
  * (`perfbench/run.py`) points at a directory of its own, so graft's
  * catalog warehouse (`<tmpdir>/graft-warehouse`) starts empty and every
  * fixture is rebuilt. After the seeded inputs are written, set-up
  * (session start, the median of [[SetupReps]] fixture builds, one
  * warm-up operation) is timed as `setup_s`; then operations run back to
  * back for about `--seconds`, each timed alone and checked after its
  * clock stops. A failed check never yields a timing.
  *
  * The last stdout line is the result object. With `--trace 0` it holds
  * the end-to-end metrics; with `--trace 1` the per-layer metrics of a
  * [[Tracer]], averaged per operation, and the line before it holds the
  * same run's end-to-end numbers (so tracing overhead can be read off
  * against an untraced run). */
object Main {

  val SetupReps = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def seconds[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def heapUsedMb: Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val runSeconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    // a dev knob must never change the measured program unnoticed
    val knobs = sys.env.keys.filter(k =>
      k == "SPARK_GRAFT_SESSION_CONF" || k.startsWith("SPARK_GRAFT_BENCH_"))
    require(knobs.isEmpty, s"refusing to run with ${knobs.mkString(", ")} set")

    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    require(!Files.exists(tmp.resolve("graft-warehouse")),
      s"catalog warehouse under $tmp is not fresh")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local("graftbench", Runtime.getRuntime.availableProcessors)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val spans = new Spans(spark, trace, s"$workload-$seed-${java.util.UUID.randomUUID().toString.take(8)}")
    val w = Workloads(workload, Ctx(spark, tmp.resolve("work"), seed, spans))

    var attempted = 0
    var failed = 0
    val opTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val liveHeap = scala.collection.mutable.ArrayBuffer.empty[Double]
    def settle(): Unit = {
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(200); System.gc()
    }
    def measured(record: Boolean, wrap: (=> Any) => Any): Double = {
      var t = 0.0
      var out: Option[w.Out] = None
      wrap { val (dt, o) = seconds(w.op()); t = dt; out = Some(o) }
      // the heap a finished operation leaves live, its output still held:
      // full GCs make this independent of when collections happened, and
      // the pause between them lets Spark's ContextCleaner drop the blocks
      // and broadcasts of the operation's unreachable RDDs
      System.gc(); Thread.sleep(200); System.gc()
      val live = heapUsedMb
      val errors = w.check(out.get)
      attempted += 1
      System.err.println(f"[graftbench] $workload op $attempted: $t%.3f s")
      if (errors.nonEmpty) {
        failed += 1
        System.err.println(s"[graftbench] $workload check failed: ${errors.mkString("; ")}")
      } else if (record) { opTimes += t; liveHeap += live }
      settle()
      t
    }

    w.inputs()
    val setupTimes = (1 to SetupReps).map(_ => seconds(w.setup())._1)
    System.err.println(s"[graftbench] session ${sessionS}s, fixtures ${setupTimes.mkString(", ")}")
    val warmS = measured(record = false, body => body)
    val setupS = sessionS + median(setupTimes) + warmS

    val tracer = if (trace) Some(new Tracer(spark, Thread.currentThread(), spans).start()) else None
    // start an operation only while it should end before the deadline
    // (always at least one): a run lasts about --seconds, not up to a
    // whole operation more
    val t0 = System.nanoTime()
    var last = 0.0
    while (attempted == 1 || (System.nanoTime() - t0) / 1e9 + last < runSeconds) {
      val s0 = System.nanoTime()
      measured(record = true, body => tracer.fold(body)(_.window(body)))
      last = (System.nanoTime() - s0) / 1e9
    }
    tracer.foreach(_.stop())

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_s", if (opTimes.isEmpty) 0.0 else median(opTimes.toSeq), "s"),
      ("ok_frac", (attempted - failed).toDouble / attempted, "ratio"),
      ("peak_rss_mb", peakRssMb, "MiB"),
      ("heap_live_mb", if (liveHeap.isEmpty) 0.0 else median(liveHeap.toSeq), "MiB"))
    val metrics = tracer match {
      case None => endToEnd
      case Some(t) =>
        println(s"""{"traced_end_to_end": ${json(endToEnd)}, "ops": ${attempted - 1}, """ +
          s""""other_driver_s": ${t.otherDriverS}}""")
        opts.get("spans-out").foreach { f =>
          val lines = spans.all.map(s =>
            s"""{"id": ${s.id}, "name": "${s.name}", "layer": "${s.layer}", """ +
              s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
              s""""parent": ${s.parent}, "run_id": "${s.runId}"}""")
          Files.write(Paths.get(f), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        }
        t.metrics
    }
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).findLast(_.startsWith("-Xmx")).getOrElse("default")
    val stamp = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> spark.sparkContext.master, "xmx" -> xmx.drop(4),
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version,
      "git_commit" -> sys.props.getOrElse("graftbench.commit", "none"),
      "source_sha1" -> sys.props.getOrElse("graftbench.source_sha1", "none"),
      "spark_local_dirs" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", "unset"),
      "workload" -> workload, "seed" -> seed.toString, "trace" -> trace.toString)
    println(stamp.map { case (k, v) => s""""$k": "$v"""" }
      .mkString("""{"stamp": {""", ", ", "}}"))
    spark.stop()
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${json(metrics)}}""")
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }
}
