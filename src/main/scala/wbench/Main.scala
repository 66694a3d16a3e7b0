package wbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** JVM side of the crawl-engine benchmark: runs one workload in this JVM
  * and prints one `WBENCH {...}` line with its metrics, the operations
  * attempted and failed, and the problems its checks found. The harness
  * `wbench/run.py` builds the program, starts this main and turns the line
  * into the benchmark's result.
  *
  * {{{
  * wbench.Main --workload crawl_deep --seed 1 --seconds 15 --trace 0
  *             --work <dir> --data <sf dir> --cores 4 --smoke 0
  * }}}
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, cores: Int, smoke: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("work"), get("data"), get("cores").toInt, kv.get("smoke").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"wbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", sys.props.getOrElse("wbench.offheap", "1g"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, a)
    val out = try a.workload match {
      case "crawl_deep" => Crawls.deep(ctx)
      case "crawl_resume" => Crawls.resume(ctx)
      case "ops_suite" => OpsSuite.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally ctx.tracer.foreach(_.write(s"${a.work}/spans.json"))
    ctx.log("workload done")
    println("WBENCH " + out.json)
    System.out.flush()
    System.err.flush()
    // Nothing is left to flush, and the harness removes the scratch data:
    // end here instead of paying spark.stop()'s ~3 s of graceful shutdown.
    Runtime.getRuntime.halt(0)
  }
}

/** What a workload measured and what its checks found. */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Untraced figures reported beside the metrics (stderr summary only). */
  val info = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** ops_suite: the query outputs the harness replays in DuckDB (JSON). */
  var opsCheck: Option[String] = None

  /** `ops` operations produced wrong output. */
  def fail(ops: Long, why: String): Unit = { failed += ops; problems += why }

  /** Counts the operations that threw (their output was never checked). */
  def countErrors[T](reps: Vector[(Boolean, Try[T])]): Unit = {
    attempted += reps.size
    failed += reps.count(_._2.isFailure)
  }

  def json: String = {
    def obj(m: mutable.LinkedHashMap[String, Double]) =
      m.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"problems":""" +
      problems.map(Json.str).mkString("[", ",", "]") +
      s""","metrics":${obj(metrics)},"info":${obj(info)}""" +
      opsCheck.fold("")(c => s""","ops_check":$c""") + "}"
  }
}

/** Shared harness state: session, arguments, the set-up clock and the
  * repetition protocol. */
final class Ctx(val spark: SparkSession, val a: Main.Args) {
  val tracer: Option[Tracer] =
    if (a.trace) Some(new Tracer(spark, s"${a.workload}-seed${a.seed}-${System.currentTimeMillis()}"))
    else None
  /** Spans are recorded only while this is set (traced runs alternate
    * traced and untraced repetitions to measure the tracing overhead). */
  var tracing: Boolean = false
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var setupS = Double.NaN
  private var leftoverLogged = false

  def span[T](name: String)(f: => T): T =
    tracer match { case Some(t) if tracing => t.span(name)(f); case _ => f }

  /** Runs `f` with spans on (in a traced run). */
  def traced[T](f: => T): T = {
    tracing = tracer.isDefined
    try f finally tracing = false
  }

  /** Spans named `name` recorded so far (none in an untraced run). */
  def spans(name: String): Vector[Span] = tracer.fold(Vector.empty[Span])(_.named(name))

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Untimed full-size operations before timing starts. Even after two, a
    * JVM keeps speeding up for tens of seconds (JIT of the planner and the
    * code generator), so every run times the same stretch of that curve. */
  def warmUp(op: => Unit): Unit = (1 to (if (a.smoke) 1 else 2)).foreach(_ => op)

  /** Set-up ends here: JVM start to the first timed operation. */
  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"set-up done after $setupS%.3f s")
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[wbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%8.3f $msg")
  def setupSeconds: Double = setupS

  /** Forces every column of `df` through the noop sink (a `count()` would
    * let Catalyst prune computed columns away). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drops every cache the previous operation left behind, so repetitions
    * start from the same state. */
  def release(): Unit = {
    if (!leftoverLogged) {
      leftoverLogged = true
      log(s"${spark.sparkContext.getPersistentRDDs.size} persisted RDDs left after the operation")
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Repeats `body` for the run's measuring time (at least twice, exactly
    * once in smoke mode), with a full GC before each repetition. The first
    * timed repetition still runs a little slow (the JVM keeps warming), so
    * a run never reports it alone. A traced run traces in
    * untraced-traced-traced-untraced blocks, whole blocks only, so a steady
    * drift cancels out of the tracing overhead. */
  def repeat[T](body: Int => T): Vector[(Boolean, Try[T])] = {
    val out = mutable.ArrayBuffer.empty[(Boolean, Try[T])]
    val t0 = System.nanoTime()
    val block = if (tracer.isDefined && !a.smoke) 4 else 1
    val minReps = if (a.smoke) 1 else 2
    var i = 0
    while (i < minReps || (!a.smoke && (i % block != 0 || (System.nanoTime() - t0) / 1e9 < a.seconds))) {
      System.gc()
      tracing = tracer.isDefined && (a.smoke || i % 4 == 1 || i % 4 == 2)
      val t1 = System.nanoTime()
      val r = Try(body(i))
      r match {
        case Failure(e) => log(s"repetition $i failed: $e")
        case _ => log(f"repetition $i took ${(System.nanoTime() - t1) / 1e9}%.3f s")
      }
      out += ((tracing, r))
      i += 1
    }
    tracing = false
    out.toVector
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

object Stats {
  /** Traced minus untraced mean wall of the same operation. */
  def overhead(traced: Seq[Double], plain: Seq[Double]): Double =
    traced.sum / traced.size - plain.sum / plain.size

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Spark counters and driver gap summed over each operation's spans, as
    * medians over operations. */
  def execMetrics(perOp: Seq[Seq[Span]]): Map[String, Double] =
    if (perOp.isEmpty) Map.empty
    else {
      def m(f: Span => Double) = median(perOp.map(_.map(f).sum))
      Map(
        "spark.jobs" -> m(_.exec.jobs.toDouble), "spark.stages" -> m(_.exec.stages.toDouble),
        "spark.tasks" -> m(_.exec.tasks.toDouble), "spark.task_busy_s" -> m(_.exec.taskBusyMs / 1e3),
        "spark.shuffle_write_mb" -> m(_.exec.shuffleWriteB / 1e6),
        "spark.shuffle_read_mb" -> m(_.exec.shuffleReadB / 1e6),
        "spark.spill_mb" -> m(_.exec.spillB / 1e6), "driver.gap_s" -> m(_.gapMs / 1e3))
    }

  /** Size in bytes of every regular file under `f`. */
  def bytesUnder(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  def digest(rows: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\u0001").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def ok[T](reps: Vector[(Boolean, Try[T])]): Vector[(Boolean, T)] =
    reps.collect { case (traced, Success(v)) => (traced, v) }
}
