package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span (or to one job group the benchmark
  * names, such as a streaming query's run id).
  */
final class Counters {
  var jobs, stages, tasks, exchanges = 0L
  var shuffleRead, shuffleWrite, spill, cpuNs, gcMs, inputBytes, outputBytes, broadcastBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "exchanges" -> exchanges,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "broadcast_bytes" -> broadcastBytes, "task_ms" -> taskMs.toSeq)
}

final case class Span(id: String, name: String, parent: String, run: String, start: Double, end: Double)

/** Spans recorded around calls into the engine's public functions, plus the
  * listeners that attribute Spark jobs, stages, tasks and final-plan
  * exchanges to them. A span's id is the Spark job group for the work it
  * starts, so attribution needs nothing inside the engine. Spans stay in
  * memory until [[json]] writes them out.
  */
final class Tracer(sc: SparkContext, val run: String)
    extends SparkListener with QueryExecutionListener {
  private val GroupKey = "spark.jobGroup.id"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  // The QueryExecutionListener is not told the execution id, so a final plan
  // meets its job group through the QueryExecution both callbacks see:
  // whichever of the two runs second does the attribution.
  private val qeGroup = new java.util.IdentityHashMap[QueryExecution, Option[String]]()
  private val qePlan = new java.util.IdentityHashMap[QueryExecution, (Long, Long)]()
  private val open = new ThreadLocal[List[String]] { override def initialValue(): List[String] = Nil }
  private var nextId = 0

  private def of(group: String): Counters = counters.computeIfAbsent(group, _ => new Counters)

  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; s"$run.$nextId" }
    val parent = open.get.headOption.getOrElse("")
    val prevGroup = sc.getLocalProperty(GroupKey)
    open.set(id :: open.get)
    sc.setLocalProperty(GroupKey, id)
    val start = Main.now
    try body
    finally {
      val end = Main.now
      sc.setLocalProperty(GroupKey, prevGroup)
      open.set(open.get.tail)
      synchronized { spans += Span(id, name, parent, run, start, end) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).foreach { g =>
      of(g).synchronized(of(g).jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => of(g).synchronized(of(g).stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = of(g)
      c.synchronized {
        c.tasks += 1
        c.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => s.jobGroupId.foreach(execGroup.put(s.executionId, _))
    case end: SparkListenerSQLExecutionEnd =>
      // `qe` is not part of the event's public Scala API; it is set on every
      // end event the engine posts for a QueryExecution.
      val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
      val g = Option(execGroup.remove(end.executionId))
      if (qe != null) synchronized(Option(qePlan.remove(qe)) match {
        case Some(plan) => g.foreach(attribute(_, plan))
        case None       => qeGroup.put(qe, g)
      })
    case _ =>
  }

  private def attribute(g: String, plan: (Long, Long)): Unit = {
    val c = of(g)
    c.synchronized {
      c.exchanges += plan._1
      c.broadcastBytes += plan._2
    }
  }

  /** Exchanges and broadcast bytes of the final (post-AQE) physical plan. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Tracer.nodes(qe.executedPlan)
    val plan = (nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
      nodes.collect { case b: BroadcastExchangeLike => b.metrics.get("dataSize").map(_.value).getOrElse(0L) }.sum)
    synchronized(Option(qeGroup.remove(qe)) match {
      case Some(g) => g.foreach(attribute(_, plan))
      case None    => qePlan.put(qe, plan)
    })
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def json(groupNames: Map[String, String]): String = synchronized {
    Json.obj(
      "spans" -> spans.toSeq.map(s => Json.Raw(Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start" -> s.start, "end" -> s.end))),
      "counters" -> Json.Raw(Json.obj(counters.asScala.toSeq.sortBy(_._1).map { case (g, c) =>
        groupNames.getOrElse(g, g) -> Json.Raw(c.synchronized(c.json))
      }: _*)))
  }
}

object Tracer {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => s +: nodes(s.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Just enough JSON writing for the benchmark's result file. */
object Json {
  final case class Raw(text: String)

  def obj(kvs: (String, Any)*): String = kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.toString
  }

  def value(v: Any): String = v match {
    case Raw(t)          => t
    case s: String       => str(s)
    case d: Double       => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long         => n.toString
    case o: Option[_]    => o.map(value).getOrElse("null")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
  }
}
