package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer, made from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Stage facts from the listener, keyed by the job group (= span id) that
  * submitted it. Times are epoch milliseconds. */
final case class StageFacts(
    stageId: Int, span: Int, submitted: Long, completed: Long, tasks: Int,
    runMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    inputBytes: Long, outputBytes: Long, spillBytes: Long,
    taskRunMs: Vector[Long], schedDelayMs: Long, peakExecMem: Long)

/** Bench-side tracer: spans around library calls, a SparkListener and a
  * QueryExecutionListener keyed by job group, and a stack sampler over the
  * executor task threads that splits stages which fuse several layers.
  * Everything is kept in memory; [[Tracer.dump]] writes it out at the end.
  * With `enabled = false` every call is a plain passthrough. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  @volatile private var current = 0

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobsBySpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskRuns = new java.util.concurrent.ConcurrentHashMap[Int, java.util.Vector[Array[Long]]]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageFacts]()
  /** (span, phase-seconds) per planned query execution. */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
  /** (span, stage, category) → stack samples. */
  private val samples = new java.util.concurrent.ConcurrentHashMap[(Int, Int, String), Int]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).getOrElse(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      jobsBySpan.merge(s, 1, Integer.sum)
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        val delay = math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
        taskRuns.computeIfAbsent(e.stageId, _ => new java.util.Vector[Array[Long]]())
          .add(Array(m.executorRunTime, delay, m.peakExecutionMemory))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val runs = Option(taskRuns.remove(i.stageId)).map(_.asScala.toVector).getOrElse(Vector.empty)
      stages.add(StageFacts(i.stageId, stageSpan.getOrDefault(i.stageId, 0),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
        runs.map(_(0)), runs.map(_(1)).sum, if (runs.isEmpty) 0L else runs.map(_(2)).max))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val phases = qe.tracker.phases.values
      plans.add(current -> phases.map(p => p.durationMs).sum / 1e3)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val StagePattern = """in stage (\d+)\.""".r.unanchored

  private val sampler = new Thread("perfbench-sampler") {
    setDaemon(true)
    override def run(): Unit = {
      var root = Thread.currentThread().getThreadGroup
      while (root.getParent != null) root = root.getParent
      val threads = new Array[Thread](1024)
      try while (true) {
        Thread.sleep(SampleMs)
        val s = current
        if (s != 0) {
          val n = root.enumerate(threads, true)
          var i = 0
          while (i < n) {
            val t = threads(i)
            t.getName match {
              case StagePattern(id) if t.getName.startsWith("Executor task launch") =>
                // a pool thread keeps its last task's name while idle
                val frames = t.getStackTrace
                if (!frames.exists(_.getMethodName == "getTask"))
                  samples.merge((s, id.toInt, Tracer.category(frames)), 1, Integer.sum)
              case _ => ()
            }
            i += 1
          }
        }
      } catch { case _: InterruptedException => () }
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    sampler.start()
  }

  private def drain(): Unit = org.apache.spark.perfbench.BusBridge.drain(sc)

  /** Runs `body` as a span named `name`, nested in the current span. Its
    * Spark jobs carry the span id as their job group. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        drain()
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, t0, t1)
        stack = stack.tail
        current = stack.headOption.getOrElse(0)
        if (current == 0) sc.clearJobGroup() else sc.setJobGroup(current.toString, "", false)
      }
    }

  def allSpans: Vector[Span] = spans.toVector
  def allStages: Vector[StageFacts] = stages.asScala.toVector
  def jobs(span: Int): Int = jobsBySpan.getOrDefault(span, 0)
  def planSeconds(span: Int): Double = plans.asScala.filter(_._1 == span).map(_._2).sum
  def sampleCounts(span: Int): Map[(Int, String), Int] =
    samples.asScala.collect { case ((s, st, cat), n) if s == span => (st, cat) -> n }.toMap

  /** Descendants of `id`, itself included. */
  def subtree(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.foldLeft(Set(id))((acc, k) => acc ++ subtree(k))
  }

  def close(): Unit = if (enabled) {
    sampler.interrupt(); sampler.join()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Writes spans, stages and samples as JSON lines (read by nothing in the
    * benchmark itself; kept for offline inspection of a traced run). */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map(s =>
      s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""") ++
      allStages.map(f =>
        s"""{"stage":${f.stageId},"span":${f.span},"submitted_ms":${f.submitted},"completed_ms":${f.completed},""" +
          s""""tasks":${f.tasks},"run_ms":${f.runMs},"shuffle_read":${f.shuffleReadBytes},""" +
          s""""shuffle_write":${f.shuffleWriteBytes},"input":${f.inputBytes},"output":${f.outputBytes},""" +
          s""""spill":${f.spillBytes},"sched_delay_ms":${f.schedDelayMs}}""") ++
      samples.asScala.toSeq.map { case ((s, st, cat), n) =>
        s"""{"samples":$n,"span":$s,"stage":$st,"category":"$cat"}""" }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  private def SampleMs = 10L
}

object Tracer {
  /** Layer of the innermost recognised frame: the tiling kernel, the TIFF
    * decoder, or the Parquet writer. A FileFormatDataWriter frame reached
    * first means the writer is pulling rows from upstream, which is not
    * write work; such samples, and all others, count as "other" and take
    * the role of the stage they ran in. */
  def category(frames: Array[StackTraceElement]): String = {
    var i = 0
    while (i < frames.length) {
      val c = frames(i).getClassName
      if (c.startsWith("graft.tiling.TileKernel")) return "kernel"
      if (c.startsWith("graft.raster.TiffDecoder") || c.startsWith("graft.raster.JpegDecoder")) return "decode"
      if (c.startsWith("org.apache.parquet.hadoop.InternalParquetRecordWriter") ||
          c.startsWith("org.apache.parquet.hadoop.ParquetRecordWriter") ||
          c.startsWith("org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter") ||
          c.startsWith("org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport")) return "write"
      if (c.startsWith("org.apache.spark.sql.execution.datasources.FileFormatDataWriter")) return "other"
      i += 1
    }
    "other"
  }
}
