package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark entry point: runs one workload once and writes its result.
  *
  * {{{
  * perfbench.Main --workload <stream|batch_sql> --seed <n>
  *   --seconds <s> --trace <0|1> --run-dir <dir> --data-root <dir>
  *   --expected <file>
  * }}}
  *
  * `perfbench/run.py` builds this project and calls it; it is not meant to
  * be run by hand. The result goes to `<run-dir>/result.json`: the output
  * check verdict, operation counts and every metric the run computed. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val run = new Run(opt("workload"), opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", Paths.get(opt("run-dir")), Paths.get(opt("data-root")),
      Paths.get(opt("expected")))
    try run.execute()
    finally run.close()
  }
}

final class Run(val workload: String, val seed: Long, val seconds: Int,
                val traced: Boolean, val runDir: Path, dataRoot: Path,
                expectedFile: Path) {
  /** Generated batch tables, one directory per generator version. */
  val dataDir: Path = dataRoot.resolve(DataGen.Version)
  val cores: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = Run.session(s"local[$cores]", cores, runDir)
  var rec = new Recorder(spark, traced)
  /** Directory of the set-up the measurement runs on. */
  var repDir: Path = runDir
  private var measureStart = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private var failed = 0L
  private var correct = true
  private val infos = mutable.ArrayBuffer.empty[String]
  /** Run ids of the streaming queries that maintain views. */
  var viewRuns: Set[String] = Set.empty
  /** Set-up rounds of the batch client. */
  private val SetupReps = 3
  /** Set-up and catch-up rounds of the stream workload, and how many of
    * them only warm up. */
  private val StreamRounds = 3
  private val StreamWarmRounds = 1

  def metric(name: String, value: Double): Unit = metrics(name) = value
  def info(s: String): Unit = synchronized { infos += s }

  /** `n` operations were attempted and `bad` of them failed. */
  def attempt(n: Long, bad: Long, what: String): Unit = {
    count(n, bad)
    if (bad > 0) info(s"$bad of $n $what")
  }

  /** One output check: counts as one operation. */
  def check(what: String, ok: Boolean): Unit = {
    count(1, if (ok) 0 else 1)
    info(s"check ${if (ok) "ok" else "FAILED"}: $what")
  }

  private def count(n: Long, bad: Long): Unit = synchronized {
    attempted += n; failed += bad
    if (bad > 0) correct = false
  }

  lazy val expected: Map[String, String] =
    if (!Files.exists(expectedFile)) Map.empty
    else scala.io.Source.fromFile(expectedFile.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val p = l.split("\\s+", 2); p(0) -> p(1) }.toMap

  /** Set the streaming pipeline up and let it drain its backlog
    * [[StreamRounds]] times, each on fresh directories, keeping the last
    * set-up. The first [[StreamWarmRounds]] rounds warm the JVM up, so
    * their catch-up rates are left out; the rate is the median of the other
    * rounds, the set-up time the median of all. */
  def setupStreaming(): Streaming.Env = {
    var kept: Streaming.Env = null
    val reps = (1 to StreamRounds).map { i =>
      val dir = runDir.resolve(s"rep$i")
      if (i == StreamRounds) measureStart = Stats.epochMs
      val t0 = Stats.nowMs
      val env = Streaming.setup(spark, rec, dir, seed)
      val setupS = (Stats.nowMs - t0) / 1000.0
      val rate = Streaming.catchup(this, env)
      if (i < StreamRounds) env.stop() else { kept = env; repDir = dir }
      (setupS, rate)
    }
    metric("setup_s", Stats.p50(reps.map(_._1)))
    metric("rate_per_s", Stats.p50(reps.drop(StreamWarmRounds).map(_._2)))
    info(f"set-up times ${reps.map(r => f"${r._1}%.3f").mkString(" ")} s, " +
      f"catch-up rates ${reps.map(r => f"${r._2}%.0f").mkString(" ")} rows/s")
    kept
  }

  /** Set the batch client up [[SetupReps]] times on fresh sessions, the
    * last on the session the measurement uses; report the median. */
  private def setupBatch(): Unit = {
    val times = (1 to SetupReps).map { i =>
      val s = if (i < SetupReps) spark.newSession() else spark
      val t0 = Stats.nowMs
      rec.call("sql", "setup")(Batch.setup(s, dataDir.toString))
      (Stats.nowMs - t0) / 1000.0
    }
    metric("setup_s", Stats.p50(times))
    info(f"set-up times ${times.map(t => f"$t%.3f").mkString(" ")} s")
  }

  /** Size of the kept set-up's checkpoints: the engine's checkpoint root
    * plus the temporary checkpoints Spark gives memory-sink queries. */
  def checkpointMetrics(): Unit = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val temps = Option(tmp.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("temporary-")).map(_.toPath)
    val sizes = (repDir.resolve("ckpt") +: temps).map(Run.dirSize)
    metric("streaming.ckpt_files", sizes.map(_._1).sum)
    metric("streaming.ckpt_bytes", sizes.map(_._2).sum)
  }

  def execute(): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    info(s"session ready ${(Stats.epochMs - jvmStart) / 1000.0} s after JVM start")
    spark.sparkContext.setLogLevel("WARN")
    try workload match {
      case "stream" => Streaming.run(this)
      case "batch_sql" =>
        DataGen.ensure(spark, dataDir)
        setupBatch()
        val tally = new Batch.Tally
        val w0 = Stats.nowMs
        Batch.warmup(this, tally)
        info(f"warm-up pass ${(Stats.nowMs - w0) / 1000.0}%.3f s")
        measureStart = Stats.epochMs
        Batch.run(this, tally)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case t: Throwable =>
        correct = false; attempted = math.max(attempted, 1); failed += 1
        info(s"run failed: $t")
        t.printStackTrace()
    }
    if (traced && correct) {
      traceMetrics()
      if (workload == "stream") singleCore()
    }
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    info(s"run done ${(Stats.epochMs - jvmStart) / 1000.0} s after JVM start, GC $gcMs ms")
    writeResult()
  }

  /** Per-layer numbers from the listeners, the spans file and self time. */
  private def traceMetrics(): Unit = {
    rec.drain(Nil)
    val stages = rec.stageRecs.filter(_.start >= measureStart)
    metric("exec.stages", stages.size.toDouble)
    metric("exec.tasks", stages.map(_.tasks).sum.toDouble)
    metric("exec.task_ms", stages.map(_.taskMs).sum)
    metric("exec.cpu_ms", stages.map(_.cpuMs).sum)
    metric("exec.gc_ms", stages.map(_.gcMs).sum)
    metric("exec.shuffle_read_bytes", stages.map(_.shuffleRead).sum.toDouble)
    metric("exec.shuffle_write_bytes", stages.map(_.shuffleWrite).sum.toDouble)
    metric("exec.spill_bytes", stages.map(_.spill).sum.toDouble)
    val stagesOf = stages.groupBy(_.group)
    def gap(group: String, start: Double, end: Double): Double =
      (end - start) - Trace.union(stagesOf.getOrElse(group, Nil).map(s =>
        (math.max(s.start.toDouble, start), math.min(s.end.toDouble, end))))
    val calls = rec.callSpans.filter(s => s.group != null && s.parent == 0L &&
      s.start >= measureStart && s.layer != "sql")
    val batches = rec.progress.filter(_.start >= measureStart)
    metric("exec.driver_gap_ms",
      calls.map(c => gap(c.group, c.start, c.end)).sum +
        batches.map(b => gap(b.runId, b.start.toDouble, b.end.toDouble)).sum)
    if (workload == "batch_sql") Batch.Queries.foreach { q =>
      val mine = calls.filter(_.name == q)
      metric(s"exec.$q.task_ms",
        Stats.p50(mine.map(c => stagesOf.getOrElse(c.group, Nil).map(_.taskMs).sum)))
      metric(s"exec.$q.driver_gap_ms", Stats.p50(mine.map(c => gap(c.group, c.start, c.end))))
    }
    val qes = rec.qeRecs.filter(_.phases.values.exists(_._1 >= measureStart))
    Seq("analysis", "optimization", "planning").foreach { ph =>
      metric(s"catalyst.${ph}_ms", qes.flatMap(_.phases.get(ph)).map { case (s, e) => (e - s).toDouble }.sum)
    }
    metric("catalyst.executions", qes.size.toDouble)
    val spans = rec.spanTree(viewRuns).filter(_.end >= measureStart)
    Trace.writeSpans(runDir.resolve("spans.json"), spans)
    val self = Trace.selfTime(spans)
    Seq("sources", "sql", "catalyst", "streaming", "views", "exec", "queries").foreach { l =>
      metric(s"self.${l}_ms", self.getOrElse(l, 0.0))
    }
    metric("trace.spans", spans.size.toDouble)
  }

  /** Repeat the catch-up phase on one core: exec.catchup_speedup. */
  private def singleCore(): Unit = {
    rec.close()
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = Run.session("local[1]", cores, runDir.resolve("single"))
    spark.sparkContext.setLogLevel("WARN")
    rec = new Recorder(spark, traced = false)
    val one = Streaming.catchupOnly(this)
    metric("exec.catchup_rows_per_s_1core", one)
    metric("exec.catchup_speedup", metrics("rate_per_s") / one)
  }

  private def writeResult(): Unit = {
    import Stats._
    val body = jsonObj(Seq(
      "workload" -> jsonStr(workload), "seed" -> seed.toString,
      "traced" -> traced.toString, "correct" -> correct.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> jsonObj(metrics.toSeq.map { case (k, v) => k -> jsonNum(v) }),
      "info" -> infos.map(jsonStr).mkString("[", ",", "]")))
    Files.writeString(runDir.resolve("result.json"), body + "\n")
  }

  def close(): Unit = {
    try rec.close() catch { case _: Throwable => () }
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.stop()
  }
}

object Run {
  /** The README Quickstart session plus the benchmark's settings: all
    * cores, one shuffle partition per core, UTC, no web UI, and every
    * directory Spark writes to inside the run directory. */
  def session(master: String, cores: Int, dir: Path): SparkSession = {
    Files.createDirectories(dir)
    SparkSession.builder().master(master).appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", dir.resolve("hadoop-tmp").toString)
      .getOrCreate()
  }

  /** Duration of a Catalyst phase of `df`'s own QueryExecution, in ms. */
  def phaseMs(df: DataFrame, phase: String): Double =
    df.queryExecution.tracker.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)

  /** Files the scans of `df`'s executed plan read (after an action). */
  def filesRead(df: DataFrame): Double = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object H extends AdaptiveSparkPlanHelper
    H.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
    }.sum
  }

  def long(r: Row, name: String): Long = r.getAs[Any](name).asInstanceOf[Number].longValue

  /** (files, bytes) under `dir`, 0 when it does not exist. Files that a
    * running query removes while the walk is under way are skipped. */
  def dirSize(dir: Path): (Double, Double) = {
    var files = 0.0
    var bytes = 0.0
    if (Files.exists(dir)) Files.walkFileTree(dir, new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        if (a.isRegularFile) { files += 1; bytes += a.size }
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
    })
    (files, bytes)
  }
}
