package perfbench

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans and Spark counters for the traced run.
  *
  * Every call the benchmark makes into a layer goes through [[span]]. With
  * tracing off that is the bare call. With tracing on it records a span
  * (name, start, end, parent, op id), sets a Spark job group naming the
  * span around the call so the [[Counters]] listener can attribute each
  * job's task metrics to it, and drains the listener bus before the span
  * closes so no event of this call lands on the next one. Spans stay in
  * memory until [[write]].
  */
object Trace {

  final class Span(val id: Int, val name: String, val parent: Int, val op: Long,
                   val start: Long) {
    var end: Long = 0L
    val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = counters(k) += v
    def seconds: Double = (end - start) / 1e9
  }

  private var spark: SparkSession = _
  private var counters: Counters  = _
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  /** Id of the workload op the next spans belong to. */
  var op: Long = 0L

  def enabled: Boolean = spark != null

  def start(s: SparkSession): Unit = {
    spark = s
    counters = new Counters
    s.sparkContext.addSparkListener(counters)
    s.listenerManager.register(counters)
  }

  def stop(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    spark = null
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s  = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        GraftListenerBridge.flush(sc)
        counters.drainInto(s)
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Adds a benchmark-side count (rows returned, files opened) to the
    * innermost open span.
    */
  def count(k: String, v: Double): Unit = stack.headOption.foreach(_.add(k, v))

  /** A span's duration minus the time its child spans cover. */
  def selfSeconds: Map[Int, Double] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    spans.map(s => s.id -> (s.seconds - child(s.id))).toMap
  }

  /** Writes every span as one JSON object per line. */
  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + Json.num(v) }.mkString(",")
      out.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"counters":{$cs}}""")
    } finally out.close()
  }

  /** Collects task metrics per job group (the span id set by [[span]]) and
    * Catalyst phase times per SQL execution.
    */
  final class Counters extends SparkListener with QueryExecutionListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val pending   = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()

    private def post(span: Int, k: String, v: Double): Unit = pending.add((span, k, v))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.flatMap(_.toIntOption).foreach { id =>
        e.stageIds.foreach(st => stageSpan.put(st, id))
        post(id, "exec.jobs", 1)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.getOrDefault(e.stageId, -1)
      val m  = e.taskMetrics
      if (id >= 0 && m != null) {
        val i = e.taskInfo
        post(id, "exec.tasks", 1)
        post(id, "exec.task_run_s", m.executorRunTime / 1e3)
        post(id, "exec.task_cpu_s", m.executorCpuTime / 1e9)
        post(id, "exec.task_gc_s", m.jvmGCTime / 1e3)
        post(id, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        post(id, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        post(id, "exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        post(id, "exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        post(id, "exec.rows_in", m.inputMetrics.recordsRead.toDouble)
        // the Spark UI's scheduler delay: task wall time not spent running,
        // deserializing, serializing or fetching the result
        val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime
        post(id, "exec.scheduler_wait_s", math.max(0L, delay) / 1e3)
      }
    }

    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Double = p.get(k).fold(0.0)(_.durationMs / 1e3)
      post(-1, "catalyst.executions", 1)
      post(-1, "catalyst.analysis_s", ms("analysis"))
      post(-1, "catalyst.optimize_s", ms("optimization"))
      post(-1, "catalyst.plan_s", ms("planning"))
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

    /** Moves every posted event into its span; events without a job group
      * (SQL executions carry none) belong to the span being closed, since
      * the bus was drained when each of its children closed.
      */
    def drainInto(s: Span): Unit = {
      var e = pending.poll()
      while (e != null) {
        val (id, k, v) = e
        if (id >= 0 && id < spans.size) spans(id).add(k, v) else s.add(k, v)
        e = pending.poll()
      }
    }
  }
}
