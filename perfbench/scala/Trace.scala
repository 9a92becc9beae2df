package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer trace of one JVM, kept in memory and written out once.
  *
  * Jobs and tasks carry the `perfbench.layer` Spark local property, which
  * the harness sets before every call into a layer's public function;
  * threads the call starts inherit it. Planning phases carry no
  * properties, so they take the label that was current when the listener
  * bus delivered them: the harness drains the bus before it changes the
  * label. Every record also has its wall-clock time, so work in a process
  * the benchmark does not drive by label (the server) is cut by time. */
final class Trace extends SparkListener with QueryExecutionListener {
  private val jobLabel = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageLabel = new ConcurrentHashMap[Int, String]
  @volatile var current = "setup"
  /** (label, start ms, end ms) per finished job. */
  private val jobs = mutable.ArrayBuffer[String]()
  /** (label, end ms, run ms, GC ms, shuffle read+write bytes, spill bytes) per task. */
  private val tasks = mutable.ArrayBuffer[String]()
  /** (label, ms, analysis ms, optimization ms, planning ms) per query execution. */
  private val phases = mutable.ArrayBuffer[String]()

  private def labelOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Trace.Key))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = labelOf(e.properties)
    jobLabel.put(e.jobId, l)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageLabel.putIfAbsent(s, l))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += s"[${Json.str(jobLabel.getOrDefault(e.jobId, "none"))}," +
      s"${jobStart.getOrDefault(e.jobId, e.time)},${e.time}]"
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val (run, gc, shuffle, spill) =
      if (m == null) (0L, 0L, 0L, 0L)
      else (m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    tasks += s"[${Json.str(stageLabel.getOrDefault(e.stageId, "none"))}," +
      s"${e.taskInfo.finishTime},$run,$gc,$shuffle,$spill]"
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    phases += s"[${Json.str(current)},${System.currentTimeMillis()}," +
      s"${ms("analysis")},${ms("optimization")},${ms("planning")}]"
  }

  def json: String = synchronized {
    s"""{"jobs":${jobs.mkString("[", ",", "]")},"tasks":${tasks.mkString("[", ",", "]")},""" +
      s""""phases":${phases.mkString("[", ",", "]")}}"""
  }
}

object Trace {
  val Key = "perfbench.layer"

  /** The trace of a JVM whose SparkSession the benchmark does not build
    * (the server): `ProcessTrace` is named in `spark.extraListeners` and
    * `spark.sql.queryExecutionListeners`, Spark creates one of each, and
    * both feed this instance. */
  lazy val shared = new Trace

  def install(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Wait until every posted listener event has been delivered. The bus
    * is package-private in Scala but public in bytecode. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Label the jobs this thread starts from now on; with a trace, first
    * deliver the events of the previous label. */
  def label(spark: SparkSession, trace: Option[Trace], l: String): Unit = {
    trace.foreach { t => drain(spark); t.current = l }
    spark.sparkContext.setLocalProperty(Key, l)
  }
}

/** Forwards to [[Trace.shared]]; writes it to the file named by the
  * `perfbench.trace` system property when the application ends. */
final class ProcessTrace extends SparkListener with QueryExecutionListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.shared.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.shared.onJobEnd(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.shared.onTaskEnd(e)
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = Trace.shared.onSuccess(f, qe, d)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    Trace.shared.onFailure(f, qe, e)
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Files.write(Paths.get(System.getProperty("perfbench.trace")), Trace.shared.json.getBytes(UTF_8))
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
