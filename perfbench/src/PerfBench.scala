package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.SparkEntry
import graft.gold._
import graft.ingest.Events
import graft.runtime._
import graft.silver.{Dedup, MergeUpsert, Sessionize}
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The JVM half of the product benchmark (`perfbench/run.py` is the
  * front end; see its docstring for the workloads and metrics).
  *
  * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *                  <workDir> <recordFile>
  *
  * One closed-loop client: the next operation starts when the previous
  * one returns, until `seconds` have passed (at least one operation).
  * With trace 1 every operation is traced: it is re-composed from the
  * same public calls the product entry point makes, each wrapped in a
  * span, and a SparkListener attributes job, task-CPU and shuffle
  * counters to the innermost span through a job-local property.
  * Nothing is recorded inside the program. The record (JSON) goes to
  * `recordFile`; `run.py` runs the DuckDB oracle checks it lists and
  * prints the metrics. */
object PerfBench {

  // ---------------------------------------------------------------- spans

  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        start: Long, var end: Long = 0L)
  final case class Job(span: Int, start: Long, var end: Long = 0L,
                       var cpuNs: Long = 0L, var shuffleBytes: Long = 0L,
                       var tasks: Int = 0)

  val SpanProp = "perfbench.span"

  /** Span store and job counters. The listener runs on Spark's
    * listener-bus thread, so every access is synchronized on `this`. */
  final class Tracer(spark: SparkSession) extends SparkListener {
    val spans = mutable.ArrayBuffer[Span]()
    val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stageJob = mutable.HashMap[Int, Int]()
    private var stack = List.empty[Int]
    var op = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = Job(span, System.nanoTime())
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = System.nanoTime())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId); job <- jobs.get(j)) {
        job.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          job.cpuNs += m.executorCpuTime
          job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    def span[T](name: String)(body: => T): T = {
      val s = synchronized {
        val s = Span(spans.size, name, stack.headOption.getOrElse(-1), op,
          System.nanoTime())
        spans += s
        stack = s.id :: stack
        s
      }
      spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally synchronized {
        s.end = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(SpanProp,
          stack.headOption.map(_.toString).orNull)
      }
    }

    /** Waits until the listener bus has delivered every job end. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10_000_000_000L
      while (synchronized(jobs.values.exists(_.end == 0L)) &&
             System.nanoTime() < deadline) Thread.sleep(20)
    }
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) total += b - from
      end = math.max(end, b)
    }
    total
  }

  /** Overlap of `iv` with the union of `with_`. */
  def overlap(iv: Seq[(Long, Long)], with_ : Seq[(Long, Long)]): Long =
    iv.map { case (a, b) =>
      covered(with_.flatMap { case (c, d) =>
        val lo = math.max(a, c); val hi = math.min(b, d)
        if (hi > lo) Some((lo, hi)) else None
      })
    }.sum

  /** Per-span counters of one traced operation: self wall, task CPU,
    * shuffle bytes written, driver-only time, jobs and tasks. */
  final case class Layer(wall: Double, cpu: Double, shuffleMb: Double,
                         driver: Double, jobs: Int, tasks: Int)

  def layers(t: Tracer, op: Int): Map[String, Layer] = t.synchronized {
    val ss = t.spans.filter(_.op == op).toSeq
    val jobIv = t.jobs.values.filter(j => ss.exists(_.id == j.span))
      .map(j => (j.start, j.end)).toSeq
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.flatMap { s =>
        val kids = ss.filter(_.parent == s.id).map(k => (k.start, k.end))
        // Self intervals: the span minus its children.
        val cuts: Seq[Long] = (s.start +: kids.sortBy(_._1)
          .flatMap(k => Seq(k._1, k._2))) :+ s.end
        cuts.grouped(2).collect { case Seq(a, b) if b > a => (a, b) }.toSeq
      }
      val ids = group.map(_.id).toSet
      val js = t.jobs.values.filter(j => ids(j.span)).toSeq
      val wall = self.map { case (a, b) => b - a }.sum
      name -> Layer(wall / 1e9, js.map(_.cpuNs).sum / 1e9,
        js.map(_.shuffleBytes).sum / 1048576.0,
        (wall - overlap(self, jobIv)) / 1e9, js.size, js.map(_.tasks).sum)
    }
  }

  // ----------------------------------------------------------------- heap

  /** Heap the JVM holds live: used heap after full collections,
    * repeated with pauses until it stops falling, so Spark's cleaner
    * thread has dropped the blocks and broadcasts of everything an
    * earlier collection found unreachable. */
  def liveHeapBytes(): Long = {
    def used(): Long = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var next = used()
    var rounds = 2
    while (next < last - (1L << 20) && rounds < 6) {
      last = next; next = used(); rounds += 1
    }
    math.min(last, next)
  }

  // ---------------------------------------------------------------- utils

  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** One DuckDB oracle comparison for run.py: `sql` over views of
    * `views` (name -> parquet glob) must equal the rows Spark wrote to
    * `dir`, compared on the oracle's columns. */
  final case class Check(name: String, sql: String, dir: String,
                         views: Map[String, String])

  final class Run(val spark: SparkSession, val workDir: String,
                  val trace: Option[Tracer]) {
    val opSeconds = mutable.ArrayBuffer[Double]()
    val errors = mutable.ArrayBuffer[String]()
    var failedOps = 0
    val checks = mutable.ArrayBuffer[Check]()
    val perLayer = mutable.ArrayBuffer[Map[String, Double]]()
    var peakLiveHeap = 0L
    val info = mutable.LinkedHashMap[String, String]()

    def fail(what: String): Unit = errors += what

    /** Runs `op(i)` in a closed loop until `seconds` of operation time
      * have passed, at least once; in a traced run every operation is
      * traced. After each operation, outside its time, the live heap
      * it left behind is measured. */
    def loop(seconds: Int)(op: Int => Unit): Unit = {
      info("timed_start_ms") = System.currentTimeMillis().toString
      var i = 0
      while (i == 0 || opSeconds.sum < seconds) {
        i += 1
        val before = errors.size
        val s = System.nanoTime()
        try op(i)
        catch { case e: Throwable =>
          fail(s"op $i: ${e.getClass.getName}: ${e.getMessage}")
        }
        opSeconds += (System.nanoTime() - s) / 1e9
        if (errors.size > before) failedOps += 1
        peakLiveHeap = math.max(peakLiveHeap, liveHeapBytes())
      }
    }
  }

  // ------------------------------------------------------------ microbatch

  val BatchSize = 200
  val RedeliveryShare = 0.05
  /** SilverLoop's `logRetention`: each batch folds every change log up
    * to the previous head - 3. */
  val LogRetention = 4L

  /** The daily chain, re-composed span by span from the calls
    * `Pipeline.runDaily` makes, in its order. Returns its Results. */
  def tracedDaily(t: Tracer, spark: SparkSession, sfDir: String,
                  wh: String): Seq[Pipeline.Result] = {
    val btable = "silver_sessions_bucketed_" + java.security.MessageDigest
      .getInstance("MD5").digest(wh.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val silverDir = s"$wh/silver_sessions"
    Pipeline.loggedTables.map(_._1).foreach { tb =>
      require(ChangeLog.readLog(spark, s"$wh/$tb").isEmpty)
    }
    val vacuumed = t.span("runtime.vacuum") {
      Vacuum.sweep(spark, wh).map(_.actions.toLong).sum
    }
    t.span("silver.sessions") {
      MergeUpsert.replaceAll(spark, silverDir,
        Sessionize.sessions(Dedup.keepLatest(Events.cleansed(spark, sfDir))))
    }
    val silver = t.span("runtime.bucketed") {
      Bucketed.writeSilver(spark, btable, spark.read.parquet(silverDir),
        location = Some(s"$wh/$btable"))
      spark.table(btable)
    }
    t.span("ingest.quarantine") {
      MergeUpsert.replaceAll(spark, s"$wh/quarantine_events",
        Events.rejects(Events.enriched(spark, sfDir))
          .withColumn("batch_id", lit(-1L)), partitionCol = "batch_id")
    }
    require(Incremental.completenessGate(spark, silverDir, 0) &&
      silver.take(1).nonEmpty, s"completeness gate failed for $silverDir")
    def gold(name: String, df: => DataFrame): Pipeline.Result =
      t.span("gold." + name.stripPrefix("gold_")) {
        val dir = s"$wh/$name"
        MergeUpsert.replaceAll(spark, dir, df)
        Pipeline.Result(name, spark.read.parquet(dir).count())
      }
    val user = gold("gold_user_daily", Bucketed.userDaily(spark, btable))
    val episode = gold("gold_episode_daily", EpisodeDaily.build(silver))
    val webtoon = gold("gold_webtoon_daily", WebtoonDaily.build(silver,
      spark.read.parquet(s"$wh/gold_episode_daily")))
    val platform = gold("gold_platform_device_daily",
      PlatformDeviceDaily.build(silver))
    val country = gold("gold_country_daily", CountryDaily.build(silver))
    val sketch = gold("gold_user_sketch", SketchGold.silverDailySketch(silver))
    val compacted = t.span("runtime.compaction") {
      Seq("silver_sessions", "gold_user_daily", "gold_episode_daily",
        "gold_webtoon_daily", "gold_platform_device_daily",
        "gold_country_daily", "gold_user_sketch").map { tb =>
        Compaction.compact(spark, s"$wh/$tb").count()
      }.sum
    }
    Seq(Pipeline.Result("vacuum_actions", vacuumed),
      Pipeline.Result("silver_sessions", silver.count()), user, episode,
      webtoon, platform, country, sketch,
      Pipeline.Result("compaction_rewrites", compacted))
  }

  /** One micro-batch's chain, re-composed from the calls
    * `Pipeline.runDailyIncremental` makes, in its order. */
  def tracedIncremental(t: Tracer, spark: SparkSession, bronze: String,
                        wh: String, watermark: Option[Long],
                        collapseUpTo: Option[Long])
      : IncrementalSilver.Delta = {
    val silverDir = s"$wh/silver_sessions"
    val idOffset = Pipeline.cdcIdOffset(spark, wh)
    val d = t.span("runtime.silver_incremental") {
      IncrementalSilver.updateDetailed(spark, bronze, silverDir, watermark,
        Events.AsOfUs, null, changeLog = true, logIdOffset = idOffset)
    }
    if (d.watermark != watermark) t.span("ingest.quarantine") {
      val delta = Incremental.readSince(spark, bronze, watermark)
      val batches = delta.select(col("batch_id")).distinct()
        .collect().map(_.get(0)).toIndexedSeq
      MergeUpsert.replacePartitions(spark, s"$wh/quarantine_events",
        Events.rejects(Events.enrich(delta)), batches,
        partitionCol = "batch_id")
    }
    d.affectedUsers.foreach { users =>
      val silver = spark.read.parquet(silverDir)
      val cdc = d.watermark.map(_ + idOffset)
      val dates = d.affectedDates
      t.span("runtime.gold_user_daily_delta") {
        IncrementalGold.userDailyDelta(spark, silver,
          s"$wh/gold_user_daily", users, cdc)
      }
      t.span("runtime.gold_episode_daily_delta") {
        IncrementalGold.episodeDailyDelta(spark, silver,
          s"$wh/gold_episode_daily", dates, cdc)
      }
      t.span("runtime.gold_webtoon_daily_delta") {
        IncrementalGold.webtoonDailyDelta(spark, silver,
          s"$wh/gold_webtoon_daily", dates, cdc)
      }
      t.span("runtime.gold_platform_device_daily_delta") {
        IncrementalGold.platformDeviceDailyDelta(spark, silver,
          s"$wh/gold_platform_device_daily", dates, cdc)
      }
      t.span("runtime.gold_country_daily_delta") {
        IncrementalGold.countryDailyDelta(spark, silver,
          s"$wh/gold_country_daily", dates, cdc)
      }
      t.span("runtime.gold_user_sketch_delta") {
        IncrementalGold.userSketchDelta(spark, silver,
          s"$wh/gold_user_sketch", dates, cdc)
      }
    }
    collapseUpTo.foreach { upTo =>
      t.span("runtime.log_collapse") {
        Pipeline.loggedTables.foreach { case (tb, keys) =>
          ChangeLog.checkpoint(spark, s"$wh/$tb", keys, upTo)
        }
      }
    }
    d
  }

  val GoldTables = Seq("gold_user_daily", "gold_episode_daily",
    "gold_webtoon_daily", "gold_platform_device_daily",
    "gold_country_daily", "gold_user_sketch")

  /** The tables the daily chain writes whose registered query has a
    * DuckDB oracle (the sketch gold's HLL bytes have none). */
  val OracleTables = Seq("silver_sessions", "gold_user_daily",
    "gold_episode_daily", "gold_webtoon_daily",
    "gold_platform_device_daily", "gold_country_daily")

  def microbatch(r: Run, seed: Long, seconds: Int, dataDir: String): Unit = {
    val spark = r.spark
    val raw = Events.raw(spark, dataDir)
    val schema = raw.schema
    val rows = raw.orderBy(col("ts"), col("event_id")).collect()
    val cut = (rows.length * 0.9).toInt
    val tail = rows.drop(cut)
    val rng = new Random(seed)
    val fresh = BatchSize - math.round(BatchSize * RedeliveryShare).toInt
    def batchRows(i: Int): Seq[Row] = {
      val from = (i - 1) * fresh
      require(from + fresh <= tail.length,
        s"input holds ${tail.length / fresh} micro-batches, run needs $i")
      // Redeliveries: exact copies of events already in bronze.
      val consumed = cut + from
      tail.slice(from, from + fresh).toSeq ++
        Seq.fill(BatchSize - fresh)(rows(rng.nextInt(consumed)))
    }
    def frame(rs: Seq[Row]): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rs.asJava, schema)
    }

    val bronze = s"${r.workDir}/bronze"
    val wh = s"${r.workDir}/warehouse"
    // Set-up: bronze batch 0 holds every event before the 90th
    // percentile of ts, drained by one incremental update from no
    // watermark (the loop's own seeding path).
    val seedRows = rows.take(cut).toSeq
    Incremental.appendBatch(spark, bronze, frame(seedRows), 0L)
    var wm = Pipeline.runDailyIncremental(spark, bronze, wh, None)
    if (wm != Some(0L)) r.fail(s"seed: watermark $wm, expected Some(0)")
    r.info("seed_events") = cut.toString

    r.loop(seconds) { i =>
      val df = frame(batchRows(i))
      val opStart = System.currentTimeMillis()
      // SilverLoop's fold boundary: the stored watermark plus the
      // warehouse's CDC id offset, minus the retention.
      val off = Pipeline.cdcIdOffset(spark, wh)
      val upTo = wm.map(_ + off - LogRetention + 1)
      val got = r.trace match {
        case Some(t) =>
          t.op = i
          val d = t.span("microbatch") {
            t.span("runtime.bronze_append") {
              Incremental.appendBatch(spark, bronze, df, i.toLong)
            }
            tracedIncremental(t, spark, bronze, wh, wm, upTo)
          }
          t.drain()
          addLayers(r, t, i, "microbatch", Set("microbatch"))
          r.perLayer += scopeCounters(spark, wh, d, opStart, i.toLong)
          d.watermark
        case None =>
          Incremental.appendBatch(spark, bronze, df, i.toLong)
          Pipeline.runDailyIncremental(spark, bronze, wh, wm,
            collapseLogsUpTo = upTo)
      }
      if (got != Some(i.toLong))
        r.fail(s"batch $i: watermark $got, expected Some($i)")
      wm = got
    }

    // Output check: the maintained silver and golds must equal a full
    // recompute over every event consumed (bronze, redeliveries
    // collapsed -- they are exact copies).
    val consumed = s"${r.workDir}/consumed"
    spark.read.parquet(bronze).drop("batch_id").distinct()
      .write.parquet(s"$consumed/events.parquet")
    exportTables(r, wh, consumed, "")
    val sketchGot = spark.read.parquet(s"$wh/gold_user_sketch")
      .select("datetime", "dau_est")
    val sketchExp = SketchGold.silverDailySketch(
      spark.read.parquet(s"$wh/silver_sessions")).select("datetime", "dau_est")
    if (!(sketchGot.exceptAll(sketchExp).isEmpty &&
          sketchExp.exceptAll(sketchGot).isEmpty))
      r.fail("gold_user_sketch differs from the recompute over silver")
    r.info("warehouse_bytes") = bytesUnder(spark, wh).toString
    r.info("input_bytes") = bytesUnder(spark, bronze).toString

    // Traced run only: the daily full recompute over the seed events,
    // re-composed span by span into a fresh warehouse, so its layers
    // (vacuum, silver replaceAll, bucketed layout, full golds,
    // compaction) are measured too; its tables get the same oracle
    // check, which pins the re-composition's row counts.
    r.trace.foreach { t =>
      val seedDir = s"${r.workDir}/seed"
      frame(seedRows).write.parquet(s"$seedDir/events.parquet")
      val dwh = s"${r.workDir}/daily_warehouse"
      t.op = 0
      val results = t.span("daily")(tracedDaily(t, spark, seedDir, dwh))
      t.drain()
      addLayers(r, t, 0, "daily", Set("daily"), spanPrefix = "daily.")
      r.info("daily_results") = results
        .map(x => s"${q(x.table)}: ${x.rows}").mkString("{", ", ", "}")
      exportTables(r, dwh, seedDir, "daily.")
    }
  }

  /** Copies each oracle-checked table out of the warehouse (what a
    * reader of the table sees) and queues its oracle comparison
    * against the events under `eventsDir`. */
  def exportTables(r: Run, wh: String, eventsDir: String,
                   prefix: String): Unit =
    OracleTables.foreach { tb =>
      val out = s"${r.workDir}/check/$prefix$tb"
      r.spark.read.parquet(s"$wh/$tb").write.parquet(out)
      r.checks += Check(prefix + tb, SparkEntry.oracleSql(tb), out,
        Map("events" -> s"$eventsDir/events.parquet"))
    }

  /** Scope counters of one traced micro-batch, read after it returned:
    * how many users and dates it re-derived, how many gold rows it
    * rewrote (rows in gold data files written during the batch) and
    * how many gold rows its change-log entries record. */
  def scopeCounters(spark: SparkSession, wh: String,
                    d: IncrementalSilver.Delta, sinceMs: Long,
                    entry: Long): Map[String, Double] = {
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val written = GoldTables.flatMap { tb =>
      val it = fs.listFiles(new Path(s"$wh/$tb"), true)
      val out = mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (n.endsWith(".parquet") && f.getModificationTime >= sinceMs)
          out += f.getPath.toString
      }
      out
    }
    val rewritten =
      if (written.isEmpty) 0L else spark.read.parquet(written: _*).count()
    val changed = GoldTables.map { tb =>
      ChangeLog.readLog(spark, s"$wh/$tb")
        .map(_.filter(col("batch_id") === entry).count()).getOrElse(0L)
    }.sum
    Map(
      "scope.affected_users" -> d.affectedUsers.map(_.count()).getOrElse(0L).toDouble,
      "scope.affected_dates" -> d.affectedDates.size.toDouble,
      "scope.gold_rows_rewritten" -> rewritten.toDouble,
      "scope.gold_rows_changed" -> changed.toDouble,
      "scope.gold_useful_ratio" ->
        (if (rewritten == 0) 0.0 else changed.toDouble / rewritten))
  }

  /** Adds the per-layer metrics of traced operation `op` to the run:
    * `<span>.{wall_s,cpu_s,shuffle_mb,driver_s}` for every span except
    * the roots, `<prefix>.jobs/.tasks` totals, and fails the run when
    * the layers' self times do not sum to within 10% of the
    * operation's time (the drift guard). */
  def addLayers(r: Run, t: Tracer, op: Int, prefix: String,
                roots: Set[String], spanPrefix: String = ""): Unit = {
    val ls = layers(t, op)
    val root = t.synchronized(t.spans.filter(s => s.op == op &&
      roots(s.name)).map(s => (s.end - s.start) / 1e9).sum)
    val inner = ls.filter { case (n, _) => !roots(n) }
    val m = mutable.LinkedHashMap[String, Double]()
    inner.toSeq.sortBy(_._1).foreach { case (n, l) =>
      val p = spanPrefix + n
      m(s"$p.wall_s") = l.wall; m(s"$p.cpu_s") = l.cpu
      m(s"$p.shuffle_mb") = l.shuffleMb; m(s"$p.driver_s") = l.driver
    }
    m(s"$prefix.jobs") = ls.values.map(_.jobs).sum.toDouble
    m(s"$prefix.tasks") = ls.values.map(_.tasks).sum.toDouble
    m(s"$prefix.traced_op_s") = root
    val sum = inner.values.map(_.wall).sum
    if (math.abs(sum - root) > 0.1 * root)
      r.fail(f"$prefix: layer wall_s sum $sum%.3f s is not within 10%% " +
        f"of the traced operation's $root%.3f s")
    r.perLayer += m.toMap
  }

  // ------------------------------------------------------------- query_mix

  /** The read-only, stateless registered queries of one pass, and the
    * module group each one's operators live in: a slice of the battery
    * with one or more queries per group, small enough that a pass in a
    * fresh JVM stays near half a minute. */
  val Queries: Seq[(String, String)] = Seq(
    "funnel_steps" -> "ops", "join_interval_overlap" -> "ops",
    "gold_country_daily" -> "gold", "dedup_minhash_lsh" -> "text",
    "sim_pq_topk" -> "sim", "q1_pricing_summary" -> "tpch")
  val Tables = Seq("events", "documents", "embeddings", "lineitem")

  def queryMix(r: Run, seed: Long, seconds: Int, dataDir: String): Unit = {
    val spark = r.spark
    val views = Tables.map(t => t -> s"$dataDir/$t.parquet").toMap
    val out = s"${r.workDir}/warehouse"
    val rng = new Random(seed)
    // No warm-up: the first pass is timed in a fresh JVM, as a scheduled
    // batch job runs it (a warm-up pass would not fit the run's budget).
    r.loop(seconds) { i =>
      // Each result is written as parquet, so every pass's rows are
      // checked against the oracles.
      rng.shuffle(Queries).foreach { case (name, _) =>
        val dir = s"$out/pass$i/$name"
        def run(): Unit =
          SparkEntry.queries(name)(spark, dataDir).write.parquet(dir)
        try r.trace match {
          case Some(t) =>
            t.op = i
            t.span(s"query.$name")(run())
          case None => run()
        } catch { case e: Throwable =>
          r.fail(s"$name (pass $i): ${e.getClass.getName}: ${e.getMessage}")
        }
        // Queries persist() shared subtrees; release them between
        // queries, as the registered-query runners do.
        spark.catalog.clearCache()
        r.checks += Check(name, SparkEntry.oracleSql(name), dir, views)
      }
      r.trace.foreach { t =>
        t.drain()
        val ls = layers(t, i)
        val m = mutable.LinkedHashMap[String, Double]()
        Queries.foreach { case (name, _) =>
          m(s"query.$name.wall_s") = ls(s"query.$name").wall
        }
        Queries.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (g, qs) =>
          val gl = qs.map { case (n, _) => ls(s"query.$n") }
          m(s"query_mix.$g.cpu_s") = gl.map(_.cpu).sum
          m(s"query_mix.$g.shuffle_mb") = gl.map(_.shuffleMb).sum
          m(s"query_mix.$g.jobs") = gl.map(_.jobs).sum.toDouble
        }
        m("query_mix.jobs") = ls.values.map(_.jobs).sum.toDouble
        m("query_mix.tasks") = ls.values.map(_.tasks).sum.toDouble
        m("query_mix.traced_op_s") = t.synchronized(t.spans
          .filter(s => s.op == i && s.name.startsWith("query."))
          .map(s => (s.end - s.start) / 1e9).sum)
        r.perLayer += m.toMap
      }
    }
    r.info("warehouse_bytes") = bytesUnder(spark, out).toString
    r.info("input_bytes") = Tables.map(t =>
      bytesUnder(spark, s"$dataDir/$t.parquet")).sum.toString
  }

  // ----------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, record) =
      args
    val k = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer =
      if (traceS == "1") {
        val t = new Tracer(spark)
        spark.sparkContext.addSparkListener(t)
        Some(t)
      } else None
    val r = new Run(spark, workDir, tracer)
    r.info("workload") = q(workload)
    r.info("master") = q(s"local[$k]")
    r.info("shuffle_partitions") = k.toString
    r.info("xmx_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    r.info("nproc") = Runtime.getRuntime.availableProcessors().toString
    try workload match {
      case "microbatch" =>
        microbatch(r, seedS.toLong, secondsS.toInt, dataDir)
      case "query_mix" =>
        queryMix(r, seedS.toLong, secondsS.toInt, dataDir)
      case other => sys.error(s"unknown workload $other")
    } catch { case e: Throwable =>
      r.fail(s"run: ${e.getClass.getName}: ${e.getMessage}")
    }
    val layerMap = r.perLayer.flatten.groupBy(_._1).map { case (k2, kv) =>
      k2 -> median(kv.map(_._2).toSeq)
    }
    val json = Seq(
      s""""op_s": ${r.opSeconds.map(num).mkString("[", ", ", "]")}""",
      s""""failed_ops": ${r.failedOps}""",
      s""""errors": ${r.errors.map(q).mkString("[", ", ", "]")}""",
      s""""peak_heap_mb": ${num(r.peakLiveHeap / 1048576.0)}""",
      s""""timed_start_ms": ${r.info.getOrElse("timed_start_ms", "0")}""",
      s""""info": ${r.info.map { case (k2, v) => s"${q(k2)}: $v" }
        .mkString("{", ", ", "}")}""",
      s""""checks": ${r.checks.map { c =>
        s"""{"name": ${q(c.name)}, "sql": ${q(c.sql)}, "dir": ${q(c.dir)}, """ +
          s""""views": ${c.views.map { case (a, b) => s"${q(a)}: ${q(b)}" }
            .mkString("{", ", ", "}")}}"""
      }.mkString("[", ", ", "]")}""",
      s""""per_layer": ${layerMap.toSeq.sortBy(_._1)
        .map { case (k2, v) => s"${q(k2)}: ${num(v)}" }
        .mkString("{", ", ", "}")}"""
    ).mkString("{", ",\n", "}\n")
    Files.writeString(Paths.get(record), json)
    spark.stop()
  }
}
