package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark work counters, summed per job group. Only public listener events
  * are used; every span runs its jobs under its own group, so the sums
  * attribute to the span that issued them. */
final class Counters extends SparkListener {
  import Counters._

  private val byGroup = new ConcurrentHashMap[String, Array[Long]]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val ended = ConcurrentHashMap.newKeySet[String]()

  private def add(group: String, i: Int, v: Long): Unit =
    if (group != null) {
      val a = byGroup.computeIfAbsent(group, _ => new Array[Long](Names.length))
      a.synchronized { a(i) += v }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) e.stageIds.foreach(s => stageGroup.put(s, g))
    add(g, Jobs, 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageGroup.get(e.stageInfo.stageId), Stages, 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g == null) return
    add(g, Tasks, 1)
    if (e.reason != Success) add(g, TaskFailures, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(g, RunMs, m.executorRunTime)
      add(g, CpuMs, m.executorCpuTime / 1000000L)
      add(g, GcMs, m.jvmGCTime)
      add(g, ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
      add(g, ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      add(g, Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(g, Input, m.inputMetrics.bytesRead)
      val i = e.taskInfo
      if (i != null && i.finishTime > 0) {
        // Scheduler delay as the Spark UI defines it: the part of a
        // task's wall time not spent deserializing, running, or shipping
        // its result.
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
          (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L)
        add(g, SchedMs, math.max(0L, (i.finishTime - i.launchTime) - busy))
      }
    }
    if (g.startsWith(FlushPrefix)) ended.add(g)
  }

  def of(group: String): Array[Long] =
    Option(byGroup.get(group)).map(_.clone()).getOrElse(new Array[Long](Names.length))

  private var flushes = 0

  /** Wait until every event posted so far has reached this listener: run
    * one tiny job in a fresh group and wait for its task to arrive (the
    * listener bus delivers one queue's events in order). */
  def flush(sc: SparkContext): Unit = {
    flushes += 1
    val g = s"$FlushPrefix$flushes"
    sc.setJobGroup(g, "flush", false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (!ended.contains(g) && System.nanoTime() < deadline) Thread.sleep(2)
    require(ended.contains(g), "listener bus did not drain within 10 s")
  }
}

object Counters {
  val Names: Vector[String] = Vector("jobs", "stages", "tasks", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "scheduler_delay_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "task_failures")
  private def at(n: String) = Names.indexOf(n)
  val Jobs = at("jobs"); val Stages = at("stages"); val Tasks = at("tasks")
  val RunMs = at("executor_run_ms"); val CpuMs = at("executor_cpu_ms"); val GcMs = at("gc_ms")
  val SchedMs = at("scheduler_delay_ms"); val ShuffleRead = at("shuffle_read_bytes")
  val ShuffleWrite = at("shuffle_write_bytes"); val Spill = at("spill_bytes")
  val Input = at("input_bytes"); val TaskFailures = at("task_failures")
  private val FlushPrefix = "perfbench-flush-"
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, ok: Boolean)

/** Spans around calls into the engine's layers. Untraced, a span only
  * times its body; traced, it also records itself (kept in memory until
  * the run ends) and runs the body under its own Spark job group. */
final class Recorder(sc: SparkContext, val traced: Boolean) {
  val counters: Counters = if (traced) { val c = new Counters; sc.addSparkListener(c); c } else null
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var opId = 0

  /** Start a new top-level operation: later spans carry its id. */
  def newOp(): Unit = opId += 1

  /** Run `body`; returns its result and wall milliseconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    if (traced) {
      sc.setJobGroup(group(id), name, false)
      stack = id :: stack
    }
    val t0 = System.nanoTime()
    var ok = false
    try {
      val r = body
      ok = true
      (r, (System.nanoTime() - t0) / 1e6)
    } finally {
      val t1 = System.nanoTime()
      if (traced) {
        stack = stack.tail
        spans += Span(id, name, parent, opId, t0, t1, ok)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "", false)
          case None    => sc.clearJobGroup()
        }
      }
    }
  }

  private def group(id: Int) = s"perfbench-span-$id"

  /** Spans as JSON lines, each with the counters of its own jobs (not its
    * children's). */
  def dump(path: java.nio.file.Path): Unit = {
    if (!traced) return
    counters.flush(sc)
    val lines = spans.sortBy(_.id).map { s =>
      val c = counters.of(group(s.id))
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6, "ok" -> s.ok) ++
        Counters.Names.zip(c.toSeq.map(v => v: Any)))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for the run's result files. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null                    => "null"
    case s: String               => str(s)
    case b: Boolean              => b.toString
    case d: Double               => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number               => n.toString
    case m: Map[_, _]            => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_]         => xs.map(value).mkString("[", ",", "]")
    case other                   => str(other.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
