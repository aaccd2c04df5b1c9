package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** graft's modules as benchmark layers, and the rule that assigns a stack
  * to one of them. */
object Layers {
  val names: Seq[String] = Seq(
    "datagen", "streaming", "runner",
    "operators.Curation", "operators.Dedup", "operators.Similarity",
    "operators.Bpe", "operators.Packing", "operators.Sampling",
    "catalog.Layout", "Storage")

  val suffixes: Seq[(String, String)] = Seq(
    "jobs" -> "count", "job_s" -> "s", "driver_s" -> "s", "task_s" -> "s",
    "gc_s" -> "s", "shuffle_mb" -> "mb", "spill_mb" -> "mb",
    "result_mb" -> "mb", "failed" -> "count")

  val extras: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count", "streaming.input_rows" -> "count",
    "streaming.add_batch_s" -> "s", "streaming.planning_s" -> "s",
    "streaming.commit_s" -> "s", "sql.executions" -> "count",
    "sql.plan_nodes_max" -> "count", "Storage.persist_mb" -> "mb",
    "Storage.checkpoints" -> "count")

  /** Unattributed work: benchmark code, PipelineHarness, Tables. */
  val Other = "other"

  private val packages = Seq(
    "graft.datagen." -> "datagen", "graft.streaming." -> "streaming",
    "graft.runner." -> "runner", "graft.statements." -> "runner",
    "graft.avro." -> "runner")
  private val objects = Seq(
    "graft.operators.Curation" -> "operators.Curation",
    "graft.operators.Dedup" -> "operators.Dedup",
    "graft.operators.Similarity" -> "operators.Similarity",
    "graft.operators.Bpe" -> "operators.Bpe",
    "graft.operators.Packing" -> "operators.Packing",
    "graft.operators.Sampling" -> "operators.Sampling",
    "graft.catalog.Layout" -> "catalog.Layout",
    "graft.Storage" -> "Storage")
  /** The topic transport is charged to its caller: a producer's write is
    * datagen's work, the runner's validating read is the runner's. The
    * streaming layer owns the micro-batches of running queries. */
  private val transport = Seq("graft.streaming.FileTopics",
    "graft.streaming.KafkaTopics", "graft.streaming.Topics")

  private def isObject(cls: String, obj: String): Boolean =
    cls == obj || cls.startsWith(obj + "$")

  def ofClass(cls: String): Option[String] =
    if (transport.exists(isObject(cls, _))) None
    else objects.collectFirst { case (o, l) if isObject(cls, o) => l }
      .orElse(packages.collectFirst { case (p, l) if cls.startsWith(p) => l })

  /** Innermost layer of a stack given innermost frame first. */
  def ofFrames(classes: Iterator[String]): String =
    classes.flatMap(ofClass).nextOption().getOrElse(Other)

  /** Innermost layer of a Spark call-site long form ("cls.method(File:n)"
    * per line, innermost first). */
  def ofCallSite(longForm: String): String =
    ofFrames(Option(longForm).iterator.flatMap(_.split("\n")).map { line =>
      val m = line.trim.takeWhile(_ != '(')
      m.substring(0, math.max(m.lastIndexOf('.'), 0))
    })
}

/** One benchmark-side span around a call into a layer. */
final case class Span(id: Int, name: String, layer: String, startNs: Long,
                      endNs: Long, parent: Int, runId: String)

/** Spans around each layer call the benchmark makes. Off (a no-op) in the
  * untraced runs that give the end-to-end numbers. While a span is open
  * its layer is the Spark local property [[Spans.LayerProp]], so work
  * whose call site holds no graft layer (the benchmark's own action on an
  * operator's output) is charged to the layer the span names. */
final class Spans(spark: SparkSession, val on: Boolean, runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String)]
  private var next = 0
  @volatile private var layerNow: String = Layers.Other

  /** Layer of the innermost open span ([[Layers.Other]] outside spans). */
  def layer: String = layerNow

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = { next += 1; next }
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack.push((id, layer))
      enter(layer)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        enter(stack.headOption.map(_._2).getOrElse(Layers.Other))
        done += Span(id, name, layer, t0, System.nanoTime(), parent, runId)
      }
    }

  private def enter(layer: String): Unit = {
    layerNow = layer
    spark.sparkContext.setLocalProperty(Spans.LayerProp,
      if (layer == Layers.Other) null else layer)
  }

  def all: Seq[Span] = done.toSeq
}

object Spans {
  val LayerProp = "graftbench.layer"
}

/** Per-layer counters of a traced run, gathered from Spark's public
  * listeners (jobs, stages, tasks, SQL executions, block updates,
  * streaming progress) and a driver stack sampler. Only events delivered
  * while an operation window is open count; the windows are drained on
  * both edges, so the check jobs between operations are never counted.
  *
  * Attribution: a job belongs to the innermost layer on the call site of
  * its SQL execution (AQE stage jobs run from a thread pool with no graft
  * frame and are found through their execution id), to `streaming` when
  * it is a micro-batch of a streaming query, else to the innermost layer
  * on its own stage call site; a job with no layer on its call site
  * belongs to the benchmark span open when it was submitted. */
final class Tracer(spark: SparkSession, opThread: Thread, spans: Spans)
    extends SparkListener {

  private def orSpan(layer: String, span: => String): String =
    if (layer == Layers.Other) span else layer

  private final class Acc {
    var jobs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var driverNs = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleB = 0L
    var spillB = 0L
    var resultB = 0L
    var failed = 0L
  }

  private val accs = mutable.Map.empty[String, Acc]
  private def acc(layer: String) = accs.getOrElseUpdate(layer, new Acc)

  private var open = false
  private var ops = 0
  private val execLayer = mutable.Map.empty[Long, String]
  private val jobLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val running = mutable.Set.empty[Int]
  private var sqlExecutions = 0L
  private var planNodesMax = 0L
  private var persistB = 0L
  private val storedRdds = mutable.Set.empty[Int]
  private var batches = 0L
  private var inputRows = 0L
  private var addBatchMs = 0L
  private var planningMs = 0L
  private var commitMs = 0L

  private val streams = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        if (open) {
          val d = e.progress.durationMs
          def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          batches += 1
          inputRows += e.progress.numInputRows
          addBatchMs += ms("addBatch")
          planningMs += ms("queryPlanning")
          commitMs += ms("walCommit") + ms("commitOffsets")
        }
      }
  }

  private val sampler = new Thread(() => {
    var last = System.nanoTime()
    while (!Thread.currentThread().isInterrupted) {
      try Thread.sleep(100) catch { case _: InterruptedException =>
        Thread.currentThread().interrupt() }
      val now = System.nanoTime()
      val frames = opThread.getStackTrace
      synchronized {
        if (open && running.isEmpty)
          acc(orSpan(Layers.ofFrames(frames.iterator.map(_.getClassName)),
            spans.layer)).driverNs += now - last
      }
      last = now
    }
  }, "graftbench-stack-sampler")
  sampler.setDaemon(true)

  def start(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
    sampler.start()
    this
  }

  def stop(): Unit = {
    sampler.interrupt()
    sampler.join()
    spark.streams.removeListener(streams)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Run `body` as one measured operation window. */
  def window[T](body: => T): T = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    synchronized { open = true; ops += 1 }
    try body
    finally {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      synchronized { open = false }
    }
  }

  private def nodes(p: SparkPlanInfo): Long = 1L + p.children.map(nodes).sum

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execLayer(e.executionId) = Layers.ofCallSite(e.details)
        if (open) {
          sqlExecutions += 1
          planNodesMax = math.max(planNodesMax, nodes(e.sparkPlanInfo))
        }
      case e: SparkListenerSQLAdaptiveExecutionUpdate if open =>
        planNodesMax = math.max(planNodesMax, nodes(e.sparkPlanInfo))
      case _ => ()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val layer =
        if (prop("sql.streaming.queryId").isDefined) "streaming"
        else orSpan(prop("spark.sql.execution.id").flatMap(id =>
            execLayer.get(id.toLong)).filter(_ != Layers.Other)
          .getOrElse(Layers.ofCallSite(
            e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull)),
          prop(Spans.LayerProp).getOrElse(Layers.Other))
      jobLayer(e.jobId) = layer
      jobStart(e.jobId) = e.time
      running += e.jobId
      e.stageIds.foreach(s => stageLayer.getOrElseUpdate(s, layer))
      acc(layer).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= e.jobId
    jobLayer.remove(e.jobId).foreach { layer =>
      val a = acc(layer)
      a.intervals += ((jobStart.remove(e.jobId).get, e.time))
      if (e.jobResult != JobSucceeded) a.failed += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageLayer.get(e.stageInfo.stageId).foreach { layer =>
        if (e.stageInfo.attemptNumber() > 0) acc(layer).failed += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLayer.get(e.stageId).foreach { layer =>
      val a = acc(layer)
      if (e.reason != org.apache.spark.Success) a.failed += 1
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleB += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.diskBytesSpilled
        a.resultB += m.resultSize
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rdd, _) if open && info.storageLevel.isValid =>
          persistB += info.memSize + info.diskSize
          storedRdds += rdd
        case _ => ()
      }
    }

  /** Union length of possibly overlapping intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  /** Every per-layer metric, averaged per measured operation. */
  def metrics: Seq[(String, Double, String)] = synchronized {
    val n = math.max(ops, 1).toDouble
    val mb = 1024.0 * 1024.0
    def per(layer: String): Map[String, Double] = {
      val a = accs.getOrElse(layer, new Acc)
      Map("jobs" -> a.jobs.toDouble, "job_s" -> unionMs(a.intervals.toSeq) / 1e3,
        "driver_s" -> a.driverNs / 1e9, "task_s" -> a.taskMs / 1e3,
        "gc_s" -> a.gcMs / 1e3, "shuffle_mb" -> a.shuffleB / mb,
        "spill_mb" -> a.spillB / mb, "result_mb" -> a.resultB / mb,
        "failed" -> a.failed.toDouble)
    }
    val layered = Layers.names.flatMap { l =>
      val m = per(l)
      Layers.suffixes.map { case (s, u) => (s"$l.$s", m(s) / n, u) }
    }
    val extra = Map(
      "streaming.batches" -> batches.toDouble,
      "streaming.input_rows" -> inputRows.toDouble,
      "streaming.add_batch_s" -> addBatchMs / 1e3,
      "streaming.planning_s" -> planningMs / 1e3,
      "streaming.commit_s" -> commitMs / 1e3,
      "sql.executions" -> sqlExecutions.toDouble,
      "Storage.persist_mb" -> persistB / mb,
      "Storage.checkpoints" -> storedRdds.size.toDouble)
    layered ++ Layers.extras.map {
      case ("sql.plan_nodes_max", u) => ("sql.plan_nodes_max", planNodesMax.toDouble, u)
      case (k, u) => (k, extra(k) / n, u)
    }
  }

  /** Driver time (no job running) charged to no layer, per operation. */
  def otherDriverS: Double = synchronized {
    accs.get(Layers.Other).map(_.driverNs / 1e9).getOrElse(0.0) / math.max(ops, 1)
  }
}
