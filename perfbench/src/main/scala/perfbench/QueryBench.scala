package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Full-result query benchmark: one JVM, one closed-loop client running
  * one judged query at a time, each timed from the query-function call
  * until `collect()` has returned every row to the driver.
  *
  * {{{
  * QueryBench --mode bench --sf DIR --queries FILE --seed N --seconds S
  *            --trace 0|1 --out DIR [--known FILE] [--min-execs N]
  *            [--min-passes N] [--warm-passes N]
  * QueryBench --mode audit --sf DIR --out DIR
  * }}}
  *
  * Everything is measured from outside the program: wall clocks around
  * calls into its public functions, `queryExecution.tracker` phases, and
  * a [[SparkListener]] that attributes jobs, stages and tasks to the span
  * open when each job started (through a Spark local property). Results
  * go to `<out>/jvm_result.json`; a traced run also writes
  * `<out>/spans.jsonl`. Result rows are fingerprinted after timing;
  * every fingerprint not listed in `--known` is written as parquet under
  * `<out>/dumps/` for the oracle check.
  */
object QueryBench {

  private val SpanProp = "perfbench.span"

  // ---- span and counter bookkeeping -------------------------------------

  final class Counts {
    var jobs, stages, tasks, runMs, cpuNs, shufWrite, shufRead, spill = 0L
    var inBytes, inRecords, outBytes, outRecords = 0L
    val sources = mutable.Set.empty[String]
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; shufWrite += o.shufWrite; shufRead += o.shufRead
      spill += o.spill; inBytes += o.inBytes; inRecords += o.inRecords
      outBytes += o.outBytes; outRecords += o.outRecords; sources ++= o.sources
    }
  }

  final case class Span(id: Long, parent: Long, name: String, query: String,
      pass: Int, startUs: Long, var endUs: Long = -1L, jobId: Int = -1)

  /** Records spans in memory and, through the listener, per-span Spark
    * counts. Inactive tracers time nothing but the caller's clocks. */
  final class Tracer(sc: SparkContext, sfDir: String) extends SparkListener {
    private val epochUs = System.currentTimeMillis() * 1000L
    private val nanoBase = System.nanoTime()
    def nowUs: Long = epochUs + (System.nanoTime() - nanoBase) / 1000L

    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    val counts = new ConcurrentHashMap[Long, Counts]()
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val jobSpans = new ConcurrentHashMap[Int, Span]()
    private val execSources = new ConcurrentHashMap[Long, Set[String]]()
    private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
    private var stack: List[Span] = Nil
    @volatile var active = false

    def countsOf(id: Long): Counts = counts.computeIfAbsent(id, _ => new Counts)

    /** Runs `body` inside a span named `name` (a child of the open span). */
    def span[T](name: String, query: String = "", pass: Int = -1)(body: => T): T = {
      if (!active) return body
      val s = Span(nextId.incrementAndGet(), stack.headOption.map(_.id).getOrElse(0L),
        name, query, pass, nowUs)
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endUs = nowUs
        spans.add(s)
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

    /** Counts summed over a span and all its descendants. */
    def subtree(root: Long): Counts = {
      val byParent = spans.asScala.groupBy(_.parent)
      val total = new Counts
      def walk(id: Long): Unit = {
        Option(counts.get(id)).foreach(c => c.synchronized(total.add(c)))
        byParent.getOrElse(id, Nil).foreach(s => walk(s.id))
      }
      walk(root)
      total
    }

    private def spanOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

    private val pathRe = """file:(/[^,\]\s]+)""".r

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val paths = pathRe.findAllMatchIn(s.physicalPlanDescription)
          .map(_.group(1)).filter(_.startsWith(sfDir)).toSet
        execSources.put(s.executionId, paths)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = spanOf(e.properties)
      val js = Span(nextId.incrementAndGet(), parent, "job", "", -1,
        e.time * 1000L, jobId = e.jobId)
      jobSpans.put(e.jobId, js)
      val c = countsOf(parent)
      c.synchronized {
        c.jobs += 1
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSources.get(id.toLong))).foreach(c.sources ++= _)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(e.jobId)).foreach { js =>
        js.endUs = e.time * 1000L
        spans.add(js)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      c.synchronized(c.stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = countsOf(stageSpan.getOrDefault(e.stageId, 0L))
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shufWrite += m.shuffleWriteMetrics.bytesWritten
          c.shufRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.inBytes += m.inputMetrics.bytesRead
          c.inRecords += m.inputMetrics.recordsRead
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  // ---- small helpers ------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  /** (stolen, busy) jiffies of all CPUs so far, from /proc/stat: time
    * the hypervisor kept a runnable vCPU off its core, and time the vCPUs
    * ran (user, nice, system, irq, softirq). (0, 0) where unavailable. */
  def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (v(7), v(0) + v(1) + v(2) + v(5) + v(6))
    }.getOrElse((0L, 0L))

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Order-independent fingerprint of a row multiset and its schema. */
  def fingerprint(df: DataFrame, rows: Array[Row]): String = {
    var a = 0L
    var b = 0L
    rows.foreach { r =>
      val s = r.toString
      a += MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32 | (MurmurHash3.stringHash(s, 17) & 0xffffffffL)
      b += MurmurHash3.stringHash(s, 0x1b873593).toLong
    }
    f"${MurmurHash3.stringHash(df.schema.catalogString)}%08x$a%016x$b%016x${rows.length}%x"
  }

  private val fileRelations =
    Set("LogicalRelation", "DataSourceV2Relation", "DataSourceV2ScanRelation", "HiveTableRelation")

  /** True when the query's optimized plan scans no file: its work already
    * ran while the DataFrame was built (a collected driver path, a
    * checkpoint or a cache). */
  def collapsed(df: DataFrame): Boolean = {
    val plan: LogicalPlan = df.queryExecution.optimizedPlan
    plan.collectWithSubqueries {
      case p if fileRelations(p.getClass.getSimpleName) => p
    }.isEmpty
  }

  def diskBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).map(_.map(c => diskBytes(c.getPath)).sum).getOrElse(0L)
    else f.length
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** local[4] with 4 shuffle partitions: one partition per core of the
    * 4-core machine the benchmark is sized for. */
  val cpus = 4
  // Timed passes stop starting after this long, so a run ends within its
  // time limit even when the machine is slow.
  val maxSeconds = 75.0

  def newSession(): SparkSession = {
    // Built exactly as graft.Bench builds its session.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def header(spark: SparkSession, sfDir: String): Map[String, Any] = Map(
    "cpus" -> cpus,
    "available_processors" -> Runtime.getRuntime.availableProcessors(),
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "sf" -> new java.io.File(sfDir).getName,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "graph_cache" -> sys.props.getOrElse("graft.graph.cache", "unset"))

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val code = try {
      if (a.getOrElse("mode", "bench") == "audit") audit(a) else bench(a)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    // Spark leaves non-daemon threads behind; exit explicitly.
    sys.exit(code)
  }

  // ---- the benchmark ------------------------------------------------------

  final case class Exec(query: String, pass: Int, traced: Boolean, wallS: Double,
      buildS: Double, planS: Double, actionS: Double, rows: Long, fp: String,
      error: String, stolenJ: Long, busyJ: Long, layers: Map[String, Any])

  def bench(a: Map[String, String]): Unit = {
    val tMain = System.nanoTime()
    val (setupSt0, setupBz0) = cpuJiffies()
    val sfDir = new java.io.File(a("sf")).getCanonicalPath
    val names = Files.readAllLines(Paths.get(a("queries"))).asScala
      .map(_.trim).filter(n => n.nonEmpty && !n.startsWith("#")).toVector
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val minExecs = a.getOrElse("min-execs", "100").toInt
    val minPasses = a.getOrElse("min-passes", "2").toInt
    val warmPasses = a.getOrElse("warm-passes", "1").toInt
    val out: Path = Paths.get(a("out"))
    val known: Set[String] = a.get("known").map(Paths.get(_)).filter(Files.exists(_))
      .map(p => Files.readAllLines(p).asScala.map(_.trim).toSet).getOrElse(Set.empty)
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = newSession()
    val sc = spark.sparkContext
    val tSession = System.nanoTime()
    val tracer = new Tracer(sc, sfDir)
    if (traced) {
      sc.addSparkListener(tracer)
      tracer.active = true
    }
    val fns = graft.SparkEntry.queries
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(" ")}")

    // Untimed result checks: fingerprint every execution, dump each new
    // fingerprint once for the oracle. Their time is excluded from setup_s.
    var checkNs = 0L
    val dumped = mutable.LinkedHashMap.empty[String, String] // "name fp" -> dir
    def check(name: String, df: DataFrame, rows: Array[Row]): String = {
      val c0 = System.nanoTime()
      val prop = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, null)
      val fp = fingerprint(df, rows)
      val key = s"$name $fp"
      if (!known(key) && !dumped.contains(key)) {
        val dir = out.resolve("dumps").resolve(name).resolve(fp).toString
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        dumped(key) = dir
      }
      sc.setLocalProperty(SpanProp, prop)
      checkNs += System.nanoTime() - c0
      fp
    }

    // The traced passes' per-query layer bookkeeping (listener drain, span
    // walks) is the benchmark's own work: it is timed and excluded from
    // sweep_s like the result checks.
    var bookNs = 0L
    val tableBytes = mutable.Map.empty[String, Long]
    def run(name: String, pass: Int, tracedPass: Boolean): Exec = {
      val fn = fns(name)
      val gc0 = gcMs()
      var df: DataFrame = null
      var rows: Array[Row] = null
      var err: String = null
      val (st0, bz0) = cpuJiffies()
      val q0 = System.nanoTime()
      var b1, p1 = q0
      tracer.span("query", name, pass) {
        try {
          df = tracer.span("queries.build", name, pass)(fn(spark, sfDir))
          b1 = System.nanoTime()
          tracer.span("catalyst.plan", name, pass)(df.queryExecution.executedPlan)
          p1 = System.nanoTime()
          rows = tracer.span("exec.action", name, pass)(df.collect())
        } catch {
          case e: Throwable =>
            err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        }
      }
      val q1 = System.nanoTime()
      val (st1, bz1) = cpuJiffies()
      if (b1 == q0) b1 = q1
      if (p1 == q0) p1 = q1
      val gc1 = gcMs()
      val fp = if (rows != null) check(name, df, rows) else ""
      var layers = Map.empty[String, Any]
      if (tracedPass) {
        val k0 = System.nanoTime()
        org.apache.spark.PerfbenchBus.drain(sc)
        val all = tracer.spans.asScala.toSeq
        val qSpan = all.reverseIterator.find(s => s.name == "query" && s.query == name && s.pass == pass).get
        def child(n: String) = all.find(s => s.parent == qSpan.id && s.name == n)
        def sub(n: String): Counts = child(n).map(s => tracer.subtree(s.id)).getOrElse(new Counts)
        val build = sub("queries.build")
        val plan = sub("catalyst.plan")
        val act = sub("exec.action")
        val total = tracer.subtree(qSpan.id)
        val phases = Option(df).map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
        def phaseMs(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val srcBytes = total.sources.toSeq.map(p => tableBytes.getOrElseUpdate(p, diskBytes(p))).sum
        layers = Map(
          "collapsed" -> Option(df).exists(d => scala.util.Try(collapsed(d)).getOrElse(false)),
          "analysis_ms" -> phaseMs("analysis"),
          "optimization_ms" -> phaseMs("optimization"),
          "planning_ms" -> phaseMs("planning"),
          "eager_jobs" -> build.jobs,
          "plan_jobs" -> plan.jobs,
          "action_jobs" -> act.jobs,
          "jobs" -> total.jobs,
          "stages" -> total.stages,
          "tasks" -> total.tasks,
          "task_run_s" -> total.runMs / 1e3,
          "task_cpu_s" -> total.cpuNs / 1e9,
          "shuffle_write_mb" -> total.shufWrite / 1e6,
          "shuffle_read_mb" -> total.shufRead / 1e6,
          "spill_mb" -> total.spill / 1e6,
          "scan_mb" -> total.inBytes / 1e6,
          "records_read" -> total.inRecords,
          "write_mb" -> total.outBytes / 1e6,
          "records_written" -> total.outRecords,
          "source_tables_mb" -> srcBytes / 1e6,
          "gc_s" -> (gc1 - gc0) / 1e3)
        bookNs += System.nanoTime() - k0
      }
      System.err.println(f"[perfbench] pass $pass%d $name%s ${secs(q0, q1)}%.3f s" +
        Option(err).map(" FAILED " + _).getOrElse(""))
      Exec(name, pass, tracedPass, secs(q0, q1), secs(q0, b1), secs(b1, p1), secs(p1, q1),
        if (rows != null) rows.length.toLong else 0L, fp, err, st1 - st0, bz1 - bz0, layers)
    }

    // ---- setup ----
    tracer.span("setup.tables")(graft.queries.QueryDefs.ensureTables(spark, sfDir))
    val tTables = System.nanoTime()
    // No GraphOps.prewarmSharedGraphs / TextMemo.prewarm: those memos are
    // built once per session on first use, so the first-touch pass below
    // builds exactly the ones the workload's queries read.
    val warm = tracer.span("setup.warm") {
      (1 to warmPasses).flatMap(_ => names.map(n => run(n, -1, tracedPass = false)))
    }
    val tWarm = System.nanoTime()
    val (setupSt1, setupBz1) = cpuJiffies()
    val setup = Map(
      "setup_s" -> (secs(tMain, tWarm) - checkNs / 1e9),
      "session_s" -> secs(t0, tSession),
      "tables_s" -> secs(tSession, tTables),
      "warm_s" -> (secs(tTables, tWarm) - checkNs / 1e9),
      "jvm_to_main_s" -> secs(tMain, t0),
      "check_s" -> checkNs / 1e9,
      "stolen_jiffies" -> (setupSt1 - setupSt0),
      "busy_jiffies" -> (setupBz1 - setupBz0))

    // ---- timed passes: seeded order, closed loop, one query at a time ----
    val rng = new scala.util.Random(seed)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tRun = System.nanoTime()
    def elapsed = secs(tRun, System.nanoTime())
    def count(t: Boolean) = passes.count(_("traced") == t)
    var p = 0
    // At least minPasses timed passes, so that each query's median
    // latency is taken over at least minPasses executions.
    while (elapsed < maxSeconds && (p < minPasses || elapsed < seconds || execs.size < minExecs ||
        (traced && (count(true) < 2 || count(false) < 2)))) {
      val order = rng.shuffle(names)
      // The traced run alternates untraced and traced passes so that the
      // tracing overhead is measured in the same JVM.
      val tracedPass = traced && p % 2 == 1
      if (traced) {
        if (tracedPass) { sc.addSparkListener(tracer); tracer.active = true }
        else { org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(tracer); tracer.active = false }
      }
      val c0 = checkNs
      val k0 = bookNs
      val gc0 = gcMs()
      val s0 = System.nanoTime()
      val done = order.map(n => run(n, p, tracedPass))
      val sweep = secs(s0, System.nanoTime()) - (checkNs - c0 + bookNs - k0) / 1e9
      execs ++= done
      passes += Map("pass" -> p, "traced" -> tracedPass, "sweep_s" -> sweep,
        "gc_s" -> (gcMs() - gc0) / 1e3, "bookkeeping_s" -> (bookNs - k0) / 1e9,
        "order" -> order)
      p += 1
    }
    if (traced) org.apache.spark.PerfbenchBus.drain(sc)

    def execJson(e: Exec): Map[String, Any] = Map(
      "query" -> e.query, "pass" -> e.pass, "traced" -> e.traced, "wall_s" -> e.wallS,
      "build_s" -> e.buildS, "plan_s" -> e.planS, "action_s" -> e.actionS,
      "rows" -> e.rows, "fp" -> e.fp, "error" -> Option(e.error),
      "stolen_jiffies" -> e.stolenJ, "busy_jiffies" -> e.busyJ) ++ e.layers
    val setupCounts: Map[String, Any] =
      if (!traced) Map.empty
      else tracer.spans.asScala.filter(s => s.parent == 0L && s.name.startsWith("setup."))
        .map(s => s.name -> tracer.subtree(s.id).jobs).toMap
    val result = Map(
      "header" -> (header(spark, sfDir) ++ Map("seed" -> seed, "seconds" -> seconds,
        "traced" -> traced, "queries" -> names)),
      "setup" -> setup,
      "setup_jobs" -> setupCounts,
      "warm" -> warm.map(execJson),
      "passes" -> passes,
      "execs" -> execs.map(execJson),
      "dumps" -> dumped.map { case (k, d) => Map("key" -> k, "dir" -> d) },
      "oracle_sql" -> names.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap,
      "peak_rss_mb" -> peakRssMb(),
      "gc_total_s" -> gcMs() / 1e3)
    if (traced) {
      val lines = tracer.spans.asScala.toSeq.sortBy(_.startUs).map { s =>
        json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
          "pass" -> s.pass, "start_us" -> s.startUs, "end_us" -> s.endUs, "job_id" -> s.jobId))
      }
      Files.write(out.resolve("spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    spark.stop()
    Files.write(out.resolve("jvm_result.json"), json(result).getBytes(UTF_8))
  }

  // ---- one-off all-queries audit -----------------------------------------

  /** Runs every judged query, in name order, once untimed with a full
    * `collect()` (its first touch: JIT, memos, per-query set-up), then
    * once with `.count()` and once with a full `collect()`, recording
    * times, Spark jobs, errors and the query's source module as one JSON
    * line per query in `<out>/audit.jsonl`. */
  def audit(a: Map[String, String]): Unit = {
    val sfDir = new java.io.File(a("sf")).getCanonicalPath
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val spark = newSession()
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, sfDir)
    sc.addSparkListener(tracer)
    tracer.active = true
    graft.queries.QueryDefs.ensureTables(spark, sfDir)
    graft.queries.GraphOps.prewarmSharedGraphs(spark, sfDir)
    graft.queries.TextMemo.prewarm(spark, sfDir)
    val file = out.resolve("audit.jsonl")
    Files.write(file, (json(header(spark, sfDir)) + "\n").getBytes(UTF_8))
    val fns = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    import graft.queries._
    val modules = Seq("Core" -> Core.queries, "Functions" -> Functions.queries,
      "Streaming" -> Streaming.queries, "LlmOps" -> LlmOps.queries,
      "GraphOps" -> GraphOps.queries, "AnalyticsOps" -> AnalyticsOps.queries,
      "StatsOps" -> StatsOps.queries)
    def moduleOf(name: String): Seq[String] = modules.collect { case (m, q) if q.contains(name) => m }
    def timed(name: String, fn: (SparkSession, String) => DataFrame, mode: String)(
        action: DataFrame => Long): Map[String, Any] = {
      var n = -1L
      var err: String = null
      val t0 = System.nanoTime()
      tracer.span(mode, name) {
        try n = action(fn(spark, sfDir))
        catch { case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        }
      }
      val s = secs(t0, System.nanoTime())
      org.apache.spark.PerfbenchBus.drain(sc)
      Map(s"${mode}_s" -> s, s"${mode}_rows" -> n,
        s"${mode}_jobs" -> tracer.spans.asScala.find(x => x.name == mode && x.query == name)
          .map(x => tracer.subtree(x.id).jobs).getOrElse(0L),
        s"${mode}_error" -> Option(err))
    }
    fns.foreach { case (name, fn) =>
      val w = timed(name, fn, "warm")(_.collect().length.toLong)
      val c = timed(name, fn, "count")(_.count())
      val f = timed(name, fn, "full")(_.collect().length.toLong)
      val rec = Map("query" -> name, "module" -> moduleOf(name).mkString(",")) ++
        w.filter(kv => kv._1 == "warm_s" || kv._1 == "warm_error") ++ c ++ f
      Files.write(file, (json(rec) + "\n").getBytes(UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
      tracer.spans.clear()
      tracer.counts.clear()
    }
    spark.stop()
  }
}
