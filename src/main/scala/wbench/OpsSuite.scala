package wbench

import graft.SparkEntry
import graft.wbot.{Fixtures, Oracle, Schemas}
import scala.util.Try
import Stats.median

/** The operator library through `graft.SparkEntry.queries` on the sf0.1
  * tables: one operation is one query forced through the noop sink; a
  * round runs every query once, in name order. */
object OpsSuite {
  /** q30 writes its side tables to a fixed absolute directory outside the
    * benchmark's working tree, so it is left out of the suite. */
  val excluded = Set("q30_crawl_step_sql")
  val crawlQuery = "q24_crawl_tiny"
  /** Executions of `crawlQuery` per round: it is the suite's only crawl and
    * alone gives ops_suite's `crawl_urls_per_s`, so a round samples it three
    * times, back to back. */
  val crawlRepeats = 3
  private def perRound(name: String): Int = if (name == crawlQuery) crawlRepeats else 1

  /** The web and config `q24_crawl_tiny` crawls, for its Oracle check. */
  private val q24Spec = Fixtures.SiteSpec(nHosts = 3, pagesPerHost = 8)
  private val q24Cfg = Schemas.CrawlConfig(maxDepth = 2, partitions = 4, bloomMinSeen = 100000L)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val data = ctx.a.data
    val out = new Outcome
    val queries = SparkEntry.queries.toVector.filterNot(q => excluded(q._1)).sortBy(_._1)
    def exec(name: String, q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame) =
      Try(ctx.timed(ctx.span(name)(ctx.noop(q(spark, data))))._2)

    // warm-up pass: each query's first execution writes its result for the
    // checks (a noop-sink result cannot be read back); q24 is collected
    val outDir = s"${ctx.a.work}/ops_out"
    val oracleSql = SparkEntry.oracleSql
    var q24Rows = Vector.empty[(Long, Int, String, String, String)]
    queries.foreach { case (n, q) =>
      if (n == crawlQuery)
        q24Rows = q(spark, data).collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4))).toVector
      else if (oracleSql.contains(n))
        q(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      else exec(n, q)
    }
    if (!ctx.a.smoke) queries.foreach { case (n, q) => exec(n, q) } // second warm-up pass
    ctx.setupDone()
    val rounds = ctx.repeat(_ => queries.flatMap { case (n, q) => Vector.fill(perRound(n))(n -> exec(n, q)) })
    val rss = ctx.peakRssMb
    ctx.log("timed section done")
    val opsPerRound = queries.map(q => perRound(q._1)).sum
    out.attempted = rounds.size.toLong * opsPerRound
    val walls = Stats.ok(rounds)
    val errors = walls.flatMap(_._2).filter(_._2.isFailure)
    errors.foreach { case (n, e) => System.err.println(s"[wbench] $n failed: ${e.failed.get}") }
    out.failed = errors.size.toLong + (rounds.size - walls.size).toLong * opsPerRound

    // checks: q24 against the Oracle here, the rest by the harness's DuckDB replay
    val executions = queries.map { case (n, _) =>
      n -> walls.map(_._2.count(x => x._1 == n && x._2.isSuccess)).sum
    }.toMap
    val oracle = Oracle.run(Fixtures.oraclePages(q24Spec), Fixtures.seeds(q24Spec), q24Cfg)
    if (q24Rows != oracle.order.map(c => (c.seq, c.depth, c.url, c.canon, c.hash)))
      out.fail(executions(crawlQuery), s"$crawlQuery order differs from Oracle.run")
    val plan = queries.map(_._1).filter(n => n != crawlQuery && oracleSql.contains(n))
    queries.map(_._1).filterNot(n => n == crawlQuery || oracleSql.contains(n))
      .foreach(n => out.fail(executions(n), s"$n has no check"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      plan.map(n => Json.str(n) + ":" + Json.str(oracleSql(n))).mkString("{", ",", "}"))
    out.opsCheck = Some(s"""{"dir":${Json.str(outDir)},"executions":""" +
      plan.map(n => Json.str(n) + ":" + executions(n)).mkString("{", ",", "}") + "}")

    def medians(reps: Vector[Vector[(String, Try[Double])]]): Map[String, Double] =
      queries.map(_._1).flatMap { n =>
        val xs = reps.flatMap(_.collect { case (`n`, t) if t.isSuccess => t.get })
        if (xs.isEmpty) None else Some(n -> median(xs))
      }.toMap
    val plain = medians(walls.filterNot(_._1).map(_._2))
    if (plain.size == queries.size) {
      out.metrics("setup_s") = ctx.setupSeconds
      out.metrics("op_s") = plain.values.sum
      out.metrics("crawl_urls_per_s") = oracle.metrics("total_requests") / plain(crawlQuery)
      out.metrics("peak_rss_mb") = rss
      out.info("reps") = walls.count(!_._1).toDouble
    }

    if (ctx.tracer.isDefined) {
      val traced = medians(walls.filter(_._1).map(_._2))
      traced.foreach { case (n, s) => out.metrics(s"$n.s") = s }
      queries.foreach { case (n, _) =>
        val ss = ctx.spans(n)
        if (ss.nonEmpty) out.metrics(s"$n.jobs") = median(ss.map(_.exec.jobs.toDouble))
      }
      // per round: the sum over its queries' spans
      val perQuery = queries.map { case (n, _) => (ctx.spans(n), perRound(n)) }
      val nRounds = perQuery.map { case (ss, k) => ss.size / k }.minOption.getOrElse(0)
      out.metrics ++= Stats.execMetrics((0 until nRounds).map(i =>
        perQuery.flatMap { case (ss, k) => ss.slice(i * k, (i + 1) * k) }))
      def roundWalls(t: Boolean) = walls.filter(_._1 == t).map(_._2.map(_._2.getOrElse(0.0)).sum)
      if (traced.size == queries.size && plain.size == queries.size)
        out.metrics("trace.overhead_s") = Stats.overhead(roundWalls(true), roundWalls(false))
    }
    out
  }
}
