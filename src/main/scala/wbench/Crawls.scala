package wbench

import graft.wbot._
import graft.wbot.Fixtures.SiteSpec
import graft.wbot.Schemas.CrawlConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, min}
import Stats.median

/** The two crawl workloads, and the per-layer probe both run when traced. */
object Crawls {

  /** The synthetic web is generated once and stored as parquet, so every
    * timed preparation reads a stored corpus (generation is not measured). */
  private def writeCorpus(ctx: Ctx, spec: SiteSpec): String = {
    val dir = s"${ctx.a.work}/corpus"
    Fixtures.pagesDf(ctx.spark, spec).write.mode("overwrite").parquet(dir)
    dir
  }

  private def prepare(ctx: Ctx, corpus: String, partitions: Int): DataFrame = {
    val p = SparkCrawler.preparePages(ctx.spark.read.parquet(corpus), partitions)
    p.count()
    p
  }

  /** Median wall per depth over crawls' `StepStat`s. */
  private def depthMetrics(steps: Vector[Vector[SparkCrawler.StepStat]]): Map[String, Double] =
    steps.flatten.groupBy(_.depth).map { case (d, ss) =>
      s"crawl.d${d}_s" -> median(ss.map(_.wallMs / 1e3))
    }

  /** Logs the salt fan-out the loop picks at each superstep after the
    * first, re-derived from the run's `StepStat`s as `crawlLoop` sizes it
    * (largest host estimated from the previous superstep's interval span,
    * over one balanced share of `partitions`): it shows whether the salted
    * politeness path fans out (> 1) or falls back to the plain window (1). */
  private def logFanouts(ctx: Ctx, steps: Vector[SparkCrawler.StepStat], cfg: CrawlConfig): Unit = {
    val maxBudget = if (cfg.rateLimits.isEmpty) 10 else cfg.rateLimits.values.map(_.n).max
    val fanouts = steps.sliding(2).collect {
      case Vector(prev, cur) if prev.frontierSize > 0 && prev.intervals > 0 =>
        val estMaxHost = prev.intervals.toLong * maxBudget * cur.frontierSize / prev.frontierSize
        val share = math.max(1L, cur.frontierSize / cfg.partitions)
        math.max(1, math.min(16, math.ceil(estMaxHost.toDouble / share).toInt))
    }
    ctx.log(s"salt fan-out at depths 1..: ${fanouts.mkString(" ")} (frontier/intervals by depth: " +
      steps.map(s => s"${s.frontierSize}/${s.intervals}").mkString(" ") + ")")
  }

  // ---------------------------------------------------------------- crawl_deep

  def deepSpec(ctx: Ctx): SiteSpec =
    if (ctx.a.smoke) SiteSpec(nHosts = 4, pagesPerHost = 30, seed = ctx.a.seed)
    else SiteSpec(nHosts = 100, pagesPerHost = 1200, seed = ctx.a.seed)

  private final case class DeepRep(prepS: Double, crawlS: Double,
      metrics: Map[String, Long], steps: Vector[SparkCrawler.StepStat])

  /** Throughput crawl of a uniform web: one seed per host, depth 4, salted
    * politeness, no recorded streams, Bloom upkeep as configured by default.
    * One operation = prepare the pages from the stored corpus, then crawl. */
  def deep(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val spec = deepSpec(ctx)
    val cfg = CrawlConfig(maxDepth = 4, partitions = ctx.a.cores, recordStreams = false)
    val seeds = Fixtures.seedsAll(spec)
    val corpus = writeCorpus(ctx, spec)

    def op(): DeepRep = {
      val rep = ctx.span("op") {
        val (prep, prepS) = ctx.timed(ctx.span("preparePages")(prepare(ctx, corpus, cfg.partitions)))
        val (run, crawlS) = ctx.timed(ctx.span("runPrepared")(
          SparkCrawler.runPrepared(spark, prep, seeds, cfg, saltedPoliteness = true)))
        DeepRep(prepS, crawlS, run.metrics, run.steps)
      }
      ctx.release()
      rep
    }

    ctx.warmUp(op())
    ctx.setupDone()
    val reps = ctx.repeat(_ => op())
    val rss = ctx.peakRssMb
    ctx.log("timed section done")
    out.countErrors(reps)
    Stats.ok(reps).headOption.foreach { case (_, r) => logFanouts(ctx, r.steps, cfg) }

    val oracle = Oracle.run(Fixtures.oraclePages(spec), seeds, cfg)
    val wantSizes = oracle.frontierSizes.map(_.toLong)
    Stats.ok(reps).foreach { case (_, r) =>
      if (r.metrics != oracle.metrics)
        out.fail(1, s"crawl_deep counters ${r.metrics} != oracle ${oracle.metrics}")
      else if (r.steps.map(_.frontierSize) != wantSizes)
        out.fail(1, s"crawl_deep frontier sizes ${r.steps.map(_.frontierSize)} != oracle $wantSizes")
    }

    val plain = Stats.ok(reps).filterNot(_._1).map(_._2)
    if (plain.nonEmpty) {
      out.metrics("setup_s") = ctx.setupSeconds
      out.metrics("op_s") = median(plain.map(r => r.prepS + r.crawlS))
      out.metrics("crawl_urls_per_s") =
        median(plain.map(r => r.metrics("total_requests") / r.crawlS))
      out.metrics("peak_rss_mb") = rss
      out.info("prep_s") = median(plain.map(_.prepS))
      out.info("crawl_s") = median(plain.map(_.crawlS))
      out.info("reps") = plain.size.toDouble
    }

    if (ctx.tracer.isDefined) {
      val traced = Stats.ok(reps).filter(_._1).map(_._2)
      out.metrics ++= depthMetrics(traced.map(_.steps))
      out.metrics ++= Stats.execMetrics(ctx.spans("op").map(Vector(_)))
      if (traced.nonEmpty) out.metrics("prep.pages_s") = median(traced.map(_.prepS))
      if (traced.nonEmpty && plain.nonEmpty) out.metrics("trace.overhead_s") =
        Stats.overhead(traced.map(r => r.prepS + r.crawlS), plain.map(r => r.prepS + r.crawlS))
      // the layer probe reads a checkpointed run of the same crawl
      val ckDir = s"${ctx.a.work}/probe_ckpt"
      Stats.deleteTree(new java.io.File(ckDir))
      ctx.traced(ctx.span("runPrepared.checkpointed") {
        val prep = prepare(ctx, corpus, cfg.partitions)
        SparkCrawler.runPrepared(spark, prep, seeds,
          cfg.copy(checkpointDir = Some(ckDir), recordStreams = true), saltedPoliteness = true)
      })
      ctx.release()
      out.metrics ++= layerProbe(ctx, ckDir, cfg)
      out.metrics ++= Kernels.run(ctx, spec, cfg.maxBodySize)
    }
    out
  }

  // -------------------------------------------------------------- crawl_resume

  def resumeSpec(ctx: Ctx): SiteSpec =
    if (ctx.a.smoke) SiteSpec(nHosts = 4, pagesPerHost = 20, skewFactor = 5, seed = ctx.a.seed)
    else SiteSpec(nHosts = 40, pagesPerHost = 80, skewFactor = 41, seed = ctx.a.seed)

  /** One seed per `pagesPerHost` pages of each host: one on each small host
    * and `skewFactor` on host 0, so host 0 holds about half of every
    * frontier and the salted politeness path fans out (one seed per host
    * would leave host 0 a small share until the small hosts run dry). */
  def resumeSeeds(spec: SiteSpec): Seq[String] =
    (0 until spec.nHosts).flatMap(h =>
      (0 until spec.hostPages(h) by spec.pagesPerHost).map(l => Fixtures.pageUrl(spec, h, l)))

  /** Supersteps the checkpointed crawl runs before it stops. */
  val stopAfter = 3

  private final case class Cycle(ckptS: Double, resumeS: Double, snapshotMb: Double,
      metrics: Map[String, Long], orderDigest: String, orderRows: Int,
      seenDigest: String, seenRows: Int, steps: Vector[SparkCrawler.StepStat])

  /** The loop as a durable user runs it, on a skewed web (host 0 holds
    * about half the pages): a checkpointed crawl stops after `stopAfter`
    * supersteps; then, with every cache dropped as a restart would, the
    * prepared pages are read back and `resumePrepared` runs to the end. */
  def resume(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = new Outcome
    val spec = resumeSpec(ctx)
    val cfg = CrawlConfig(maxDepth = 5, partitions = ctx.a.cores)
    val seeds = resumeSeeds(spec)
    val corpus = writeCorpus(ctx, spec)
    val prepDir = s"${ctx.a.work}/prepared"
    val ckDir = s"${ctx.a.work}/ckpt"
    val cc = cfg.copy(checkpointDir = Some(ckDir))
    SparkCrawler.writePreparedPages(prepare(ctx, corpus, cfg.partitions), prepDir)
    ctx.release()

    def pages(): DataFrame = {
      val p = SparkCrawler.readPreparedPages(spark, prepDir)
      p.count()
      p
    }

    def cycle(): Cycle = {
      Stats.deleteTree(new java.io.File(ckDir))
      val p0 = pages()
      val (stopped, ckptS) = ctx.timed(ctx.span("runPrepared")(
        SparkCrawler.runPrepared(spark, p0, seeds, cc.copy(maxSupersteps = stopAfter),
          saltedPoliteness = true)))
      ctx.release()
      val p1 = pages()
      val (run, resumeS) = ctx.timed(ctx.span("resumePrepared") {
        val r = SparkCrawler.resumePrepared(spark, p1, cc, saltedPoliteness = true)
        ctx.noop(r.order)
        r
      })
      val snapshotMb = Stats.bytesUnder(new java.io.File(ckDir)) / 1e6
      val order = run.order.select("seq", "url", "canon", "hash", "depth").collect()
        .sortBy(_.getLong(0))
        .map(r => s"${r.getLong(0)}\t${r.getString(1)}\t${r.getString(2)}\t${r.getString(3)}\t${r.getInt(4)}")
      val seen = run.seen.select("hash").collect().map(_.getString(0)).sorted
      ctx.release()
      Cycle(ckptS, resumeS, snapshotMb, run.metrics, Stats.digest(order.iterator), order.length,
        Stats.digest(seen.iterator), seen.length, stopped.steps ++ run.steps)
    }

    ctx.warmUp(cycle()) // checkpointed crawls run slow until a full cycle has run
    ctx.setupDone()
    val reps = ctx.repeat(_ => cycle())
    val rss = ctx.peakRssMb
    ctx.log("timed section done")
    out.countErrors(reps)
    Stats.ok(reps).headOption.foreach { case (_, c) => logFanouts(ctx, c.steps, cfg) }

    val oracle = Oracle.run(Fixtures.oraclePages(spec), seeds, cfg)
    val order = oracle.order.map(c => s"${c.seq}\t${c.url}\t${c.canon}\t${c.hash}\t${c.depth}")
    val wantOrder = Stats.digest(order.iterator)
    val wantSeen = Stats.digest(oracle.seen.toVector.sorted.iterator)
    Stats.ok(reps).foreach { case (_, c) =>
      if (c.metrics != oracle.metrics)
        out.fail(1, s"crawl_resume counters ${c.metrics} != oracle ${oracle.metrics}")
      else if (c.orderDigest != wantOrder)
        out.fail(1, s"crawl_resume order differs from oracle (${c.orderRows} vs ${order.size} rows)")
      else if (c.seenDigest != wantSeen)
        out.fail(1, s"crawl_resume seen set differs from oracle (${c.seenRows} vs ${oracle.seen.size})")
    }

    val plain = Stats.ok(reps).filterNot(_._1).map(_._2)
    if (plain.nonEmpty) {
      out.metrics("setup_s") = ctx.setupSeconds
      out.metrics("op_s") = median(plain.map(c => c.ckptS + c.resumeS))
      out.metrics("crawl_urls_per_s") =
        median(plain.map(c => c.metrics("total_requests") / (c.ckptS + c.resumeS)))
      out.metrics("peak_rss_mb") = rss
      out.info("ckpt_crawl_s") = median(plain.map(_.ckptS))
      out.info("resume_s") = median(plain.map(_.resumeS))
      out.info("snapshot_mb") = median(plain.map(_.snapshotMb))
      out.info("reps") = plain.size.toDouble
    }

    if (ctx.tracer.isDefined) {
      val traced = Stats.ok(reps).filter(_._1).map(_._2)
      out.metrics ++= depthMetrics(traced.map(_.steps))
      out.metrics ++= Stats.execMetrics(
        ctx.spans("runPrepared").zip(ctx.spans("resumePrepared")).map { case (a, b) => Vector(a, b) })
      if (traced.nonEmpty) {
        out.metrics("resume.ckpt_crawl_s") = median(traced.map(_.ckptS))
        out.metrics("resume.resume_s") = median(traced.map(_.resumeS))
        out.metrics("storage.snapshot_mb") = median(traced.map(_.snapshotMb))
      }
      if (traced.nonEmpty && plain.nonEmpty) out.metrics("trace.overhead_s") =
        Stats.overhead(traced.map(c => c.ckptS + c.resumeS), plain.map(c => c.ckptS + c.resumeS))
      // the last cycle's checkpoint (crawled to the end) feeds the probe
      out.metrics ++= layerProbe(ctx, ckDir, cfg)
      out.metrics ++= Kernels.run(ctx, spec, cfg.maxBodySize)
    }
    out
  }

  // --------------------------------------------------------------- layer probe

  /** Times politeness, ranking, the Bloom seen filter and the snapshot layer
    * by calling their public functions on the largest expanding frontier and
    * the final seen set of a committed crawl, read back with
    * `Storage.readFrontier` and `readSeen`. Each figure is the median of
    * three traced calls. */
  def layerProbe(ctx: Ctx, ckDir: String, cfg: CrawlConfig): Map[String, Double] = ctx.traced {
    val spark = ctx.spark
    val reps = if (ctx.a.smoke) 1 else 3
    def med(name: String)(f: => Unit): Double =
      median((1 to reps).map { _ => System.gc(); ctx.timed(ctx.span(name)(f))._2 })

    val st = new Storage(ckDir)
    val snap = st.readManifest().getOrElse(sys.error(s"no committed snapshot in $ckDir"))
    // the frontier committed at step d is depth d+1; it expands iff d+1 < maxDepth
    val (step, _) = (0 to snap.lastStep).filter(_ + 1 < cfg.maxDepth)
      .map(d => d -> st.readFrontier(spark, d).count()).maxBy(_._2)
    val frontier = st.readFrontier(spark, step).persist()
    val rows = frontier.count()
    val seen = st.readSeen(spark, snap.lastStep, snap.seenBaseStep)
      .getOrElse(sys.error("no committed seen set")).select("canon", "hash", "hash64").persist()
    val seenRows = seen.count()
    val crawled = st.readCrawled(spark, step).getOrElse(sys.error("no committed crawled stream"))
    val attempts = st.readAttempts(spark, step).getOrElse(sys.error("no committed attempts"))

    // salt fan-out as the crawl loop sizes it: biggest host over a balanced share
    val maxHost = frontier.groupBy("root").count().agg(max("count")).first().getLong(0)
    val fanout = math.max(1, math.min(16,
      math.ceil(maxHost.toDouble / math.max(1L, rows / ctx.a.cores)).toInt))
    val assign = med("Politeness.assignIntervals")(
      ctx.noop(Politeness.assignIntervals(frontier, cfg, salted = true, saltFanout = fanout)))

    val bounds = frontier.agg(min("seq"), max("seq")).first()
    val rank = med("Ranks.denseRangeRank") {
      val r = Ranks.denseRangeRank(frontier, col("seq"), bounds.getLong(0), bounds.getLong(1) + 1,
        Seq(col("canon")), "__rank", cfg.partitions)
      ctx.noop(r.df)
      r.cached.unpersist(true); ()
    }

    def store() = new BloomSeen.SegmentStore(spark, cfg.partitions,
      BloomSeen.bytesFor(1L << 16, cfg.bloomBitsPerKey), cfg.bloomBroadcastMaxBytes)
    val update = med("BloomSeen.update")(store().update(seen.select("hash64")))
    val probeStore = store()
    probeStore.update(seen.select("hash64"))
    val probe = med("BloomSeen.withMight")(ctx.noop(probeStore.withMight(frontier, col("hash64"))))

    val commitDir = s"${ctx.a.work}/probe_commit"
    val commit = med("Storage.commitStep") {
      Stats.deleteTree(new java.io.File(commitDir))
      new Storage(commitDir).commitStep(step, frontier,
        Some(Storage.SeenCommit(seen, None, seenRows, supersedesPrior = true)),
        crawled, attempts, snap.metrics, snap.seqBase)
    }
    val read = med("Storage.read") {
      val s = new Storage(commitDir)
      ctx.noop(s.readFrontier(spark, step))
      Seq(s.readSeen(spark, step), s.readCrawled(spark, step), s.readAttempts(spark, step))
        .flatten.foreach(ctx.noop)
    }
    ctx.release()

    def mb(sub: String): Double =
      (0 to snap.lastStep).map(d => Stats.bytesUnder(new java.io.File(s"$ckDir/step=$d/$sub"))).sum / 1e6
    Map(
      "politeness.assign_s" -> assign, "rank.dense_s" -> rank,
      "bloom.update_s" -> update, "bloom.probe_s" -> probe,
      "bloom.segment_mb" -> probeStore.totalBytes / 1e6,
      "storage.commit_s" -> commit, "storage.read_s" -> read,
      "storage.frontier_mb" -> mb("frontier"), "storage.seen_mb" -> mb("seen_delta"),
      "storage.crawled_mb" -> mb("crawled"), "storage.attempts_mb" -> mb("attempts"))
  }
}
