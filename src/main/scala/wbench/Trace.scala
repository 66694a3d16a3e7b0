package wbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark execution counters, accumulated by [[Counters]] and read as
  * before/after differences around one benchmark call. */
final case class Exec(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskBusyMs: Long = 0,
    shuffleWriteB: Long = 0, shuffleReadB: Long = 0, spillB: Long = 0) {
  def -(o: Exec): Exec = Exec(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskBusyMs - o.taskBusyMs, shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB,
    spillB - o.spillB)
}

/** The benchmark's own listener: job, stage and task counts, task busy
  * time, shuffle and spill bytes, and every job's wall interval (the parts
  * of a call that no job covers are the driver gap: planning, codegen and
  * AQE round-trips). */
final class Counters extends SparkListener {
  private var c = Exec()
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c.copy(tasks = c.tasks + 1, taskBusyMs = c.taskBusyMs + m.executorRunTime,
      shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadB = c.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
      spillB = c.spillB + m.diskBytesSpilled)
  }

  def snapshot: Exec = synchronized(c)

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def jobCoveredMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = jobSpans.iterator
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.toVector.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** One traced call: wall clock bounds, the span that caused it, and the
  * Spark work it drove. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    exec: Exec, gapMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Spans sit around the benchmark's own
  * calls into the program (nothing inside the program is instrumented),
  * nest through a stack on the driver thread, stay in memory, and are
  * written as one JSON file by [[write]]. */
final class Tracer(spark: SparkSession, val runId: String) {
  val counters = new Counters
  spark.sparkContext.addSparkListener(counters)
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Block until the listener has seen every event posted so far, so the
    * counters read after a call include all of its tasks. */
  def drain(): Unit = try {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus); ()
  } catch { case _: Exception => Thread.sleep(200) }

  def span[T](name: String)(f: => T): T = {
    drain()
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val before = counters.snapshot
    val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
      drain()
      val gap = math.max(0L, (ms1 - ms0) - counters.jobCoveredMs(ms0, ms1))
      stack = stack.tail
      spans += Span(id, parent, name, t0, t1, counters.snapshot - before, gap)
    }
  }

  def named(name: String): Vector[Span] = spans.iterator.filter(_.name == name).toVector

  /** Self time: a span's duration minus the part its children cover
    * (children of one parent never overlap: calls are sequential). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def write(path: String): Unit = {
    val sb = new StringBuilder("{\"run_id\":" + Json.str(runId) + ",\"spans\":[\n")
    sb.append(spans.map { s =>
      val e = s.exec
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_s":${Json.num((s.startNs - origin) / 1e9)},"end_s":${Json.num((s.endNs - origin) / 1e9)},""" +
        s""""self_s":${Json.num(selfSeconds(s))},"jobs":${e.jobs},"stages":${e.stages},""" +
        s""""tasks":${e.tasks},"task_busy_s":${Json.num(e.taskBusyMs / 1e3)},""" +
        s""""shuffle_write_b":${e.shuffleWriteB},"shuffle_read_b":${e.shuffleReadB},""" +
        s""""spill_b":${e.spillB},"driver_gap_s":${Json.num(s.gapMs / 1e3)}}"""
    }.mkString(",\n"))
    sb.append("\n],\"self_s_by_name\":{")
    sb.append(spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      Json.str(n) + ":" + Json.num(ss.map(selfSeconds).sum)
    }.mkString(","))
    sb.append("}}\n")
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, sb.toString)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
