package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, or the whole pass (`parent = -1`). */
final case class Span(id: Int, name: String, pass: Int, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Wraps a call into a layer. The timed run uses [[Spans.off]]; the traced
  * run a [[Tracer]].
  */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object Spans {
  val off: Spans = new Spans { def apply[T](name: String)(body: => T): T = body }
}

/** Counters of the Spark work done inside one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** Records spans around the benchmark's calls into each layer. While a span
  * is open its id is the Spark job group, so [[SpanListener]] can charge
  * every job, stage and task to the span that caused it. Spans are kept in
  * memory and written out once, when the run ends.
  */
final class Tracer(sc: SparkContext) extends Spans {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextId = 0
  private var open: List[(Int, String)] = Nil
  private var pass = -1

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.fold(-1)(_._1)
    open = (id, name) :: open
    sc.setJobGroup(Tracer.group(id), name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, pass, parent, t0, System.nanoTime())
      open = open.tail
      open.headOption match {
        case Some((p, n)) => sc.setJobGroup(Tracer.group(p), n)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Runs one pass as the root span of pass `k`. */
  def pass[T](k: Int)(body: => T): T = {
    pass = k
    apply(Tracer.Root)(body)
  }
}

object Tracer {
  val Root = "pass"
  def group(id: Int): String = s"perfbench-span-$id"
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("perfbench-span-")).map(_.stripPrefix("perfbench-span-").toInt)

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover (children of one parent run one after another).
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).map { c =>
        math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
      }.sum
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Rolls job, stage and task metrics up to the span whose job group
  * launched them.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  val counters: mutable.Map[Int, Counters] = mutable.Map.empty

  /** Jobs that ran while the listener was attached but outside any span. */
  var unattributedJobs = 0L

  private def of(span: Int) = counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Tracer.spanOf(group) match {
      case Some(span) =>
        of(span).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      case None => unattributedJobs += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = of(span)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      stageSubmitted.get(e.stageId).foreach(t => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Reads the bloom prefilter's row counts off the executed plans of the
  * queries it watches: rows that pass `might_contain` below a join's left
  * (probe) input, where `contaminationBloom` filters the corpus, and rows
  * that join keeps (the exact matches). The optimizer infers the same
  * filter on the right input, where every benchmark row passes; that one is
  * not the prefilter and is not counted.
  */
final class BloomProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  var passed = 0L
  var joined = 0L

  private def rows(p: SparkPlan): Long = p.metrics("numOutputRows").value

  /** Bloom filters in `p` that no join lies between. */
  private def prefilters(p: SparkPlan): Seq[FilterExec] = p match {
    case _: BaseJoinExec => Nil
    case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => Seq(f)
    case other => allChildren(other).flatMap(prefilters)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    collect(qe.executedPlan) { case j: BaseJoinExec => j }.foreach { j =>
      val fs = prefilters(j.left)
      if (fs.nonEmpty) {
        passed += fs.map(rows).sum
        joined += rows(j)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
