package perfbench

import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{LedgerBroker, LedgerClient}
import graft.sql.SqlEngine

/** The `stream` workload: one ledger-backed stream `s (k, v, seq, _ts)`
  * serving three EMIT CHANGES queries (filter, TUMBLE aggregate, WITHIN
  * self-join) and one incrementally maintained aggregate view.
  *
  * The run has two phases. Catch-up: a backlog of [[Backlog]] records,
  * stamped 1 ms apart and ending at set-up time, sits in the broker's log
  * file when the broker starts, and the four queries drain it; set-up and
  * catch-up run in several rounds (the first warms the JVM up) and the last
  * set-up is kept. Steady: one
  * generator thread produces [[Rate]] records per second, open loop,
  * through `LedgerClient.produce`, while one closed-loop reader pulls
  * single keys from the view.
  *
  * A push query's latency for a record runs from the record's due time to
  * the end of the first micro-batch whose source offsets cover it. A pull's
  * latency runs from the `SqlEngine.sql` call until `collect()` returns; its
  * staleness is the age, at pull start, of the oldest acknowledged record of
  * the pulled key that the pull does not reflect (0 when up to date).
  */
object Streaming {
  val Backlog = 40000
  val Keys = 1000
  val Rate = 200
  val Host = "localhost"

  val PushQueries: Seq[(String, String)] = Seq(
    "push" -> "SELECT k, v, seq FROM s WHERE v > 50 EMIT CHANGES;",
    "agg" -> ("SELECT k, COUNT(*) AS n, SUM(v) AS sv FROM TUMBLE(s, INTERVAL 10 SECOND) " +
      "GROUP BY k EMIT CHANGES;"),
    "join" -> ("SELECT a.k AS k, a.seq AS s1, b.seq AS s2 FROM s AS a JOIN s AS b " +
      "ON a.k = b.k WITHIN (INTERVAL 2 SECOND) EMIT CHANGES;"))
  val ViewSql = "CREATE VIEW v AS SELECT k, COUNT(*) AS n, MAX(seq) AS last_seq FROM s GROUP BY k;"

  final case class Rec(seq: Int, k: Int, v: Int, dueMs: Long) {
    def payload: String =
      s"""{"k":"k$k","v":$v,"seq":$seq,"_ts":"${fmt.format(Instant.ofEpochMilli(dueMs))}"}"""
  }
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    .withZone(ZoneOffset.UTC)

  /** Every record the run produced, in offset order (offset == seq), plus
    * the time each was acknowledged, for the output checks and staleness. */
  final class Log {
    val recs = mutable.ArrayBuffer.empty[Rec]
    val ackMs = mutable.ArrayBuffer.empty[Long]
    private val byKey = Array.fill(Keys)(mutable.ArrayBuffer.empty[Int])
    def add(r: Rec, ack: Long): Unit = synchronized {
      byKey(r.k) += recs.size; recs += r; ackMs += ack
    }
    def size: Int = synchronized(recs.size)
    /** Records of key `k` acknowledged by `atMs`, in offset order. */
    def ofKey(k: Int, atMs: Long): Vector[Rec] = synchronized {
      byKey(k).iterator.filter(i => ackMs(i) <= atMs).map(recs(_)).toVector
    }
  }

  /** One set-up of the streaming pipeline; `startMs` is when its first
    * query was started. */
  final case class Env(broker: LedgerBroker, port: Int, engine: SqlEngine,
                       queries: Seq[(String, StreamingQuery)], log: Log, startMs: Long) {
    def stop(): Unit = {
      queries.foreach { case (_, q) => try q.stop() catch { case _: Throwable => () } }
      broker.stop()
    }
  }

  private def backlog(seed: Long, endMs: Long): Seq[Rec] = {
    val r = new scala.util.Random(seed)
    (0 until Backlog).map(i =>
      Rec(i, r.nextInt(Keys), r.nextInt(100), endMs - (Backlog - 1 - i)))
  }

  /** Write the backlog, start the broker on it, declare the stream and
    * start the push queries and the view. */
  def setup(spark: SparkSession, rec: Recorder, dir: Path, seed: Long): Env = {
    Files.createDirectories(dir)
    spark.conf.set("spark.graft.checkpointRoot", dir.resolve("ckpt").toString)
    spark.conf.set("spark.graft.viewRoot", dir.resolve("views").toString)
    val log = new Log
    val recs = backlog(seed, Stats.epochMs)
    val file = dir.resolve("ledger.log")
    rec.call("sources", "write_backlog") {
      Files.write(file, recs.map(_.payload).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    recs.foreach(r => log.add(r, r.dueMs))
    val broker = new LedgerBroker(file)
    val port = rec.call("sources", "broker_start")(broker.start())
    val engine = new SqlEngine(spark)
    rec.call("sql", "create_stream") {
      engine.sql(s"CREATE STREAM s (k STRING, v INTEGER, seq INTEGER, _ts TIMESTAMP) " +
        s"WITH (TRANSPORT='ledger', PORT=$port);")
    }
    val startMs = Stats.epochMs
    val queries = PushQueries.map { case (name, text) =>
      name -> rec.call("streaming", s"start:$name") {
        engine.sql(text).asInstanceOf[engine.Started].query }
    } :+ ("view" -> rec.call("views", "create_view") {
      engine.sql(ViewSql).asInstanceOf[engine.Started].query })
    Env(broker, port, engine, queries, log, startMs)
  }

  /** Time until every query's progress covers offset `until`; None if not
    * reached before `deadlineMs`. Returns the end time of the covering
    * batch (the latest over queries). */
  def waitCovered(rec: Recorder, env: Env, until: Long, deadlineMs: Long): Option[Long] = {
    def coveredAt: Option[Long] = {
      val ends = env.queries.map { case (_, q) =>
        val rid = q.runId.toString
        if (!q.isActive) throw new IllegalStateException(
          s"query ${q.name} stopped: ${q.exception.map(_.getMessage).getOrElse("")}")
        rec.progress.filter(b => b.runId == rid && b.endOffset >= until)
          .map(_.end).minOption
      }
      if (ends.forall(_.isDefined)) Some(ends.flatten.max) else None
    }
    var at = coveredAt
    while (at.isEmpty && Stats.epochMs < deadlineMs) { Thread.sleep(20); at = coveredAt }
    at
  }

  /** Open-loop generator: record i is due at start + i / Rate seconds and
    * is produced then (or at once, when the generator runs late). */
  final class Generator(env: Env, rec: Recorder, seed: Long, seconds: Int) {
    val n: Int = Rate * seconds
    val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val ackMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile var error: Throwable = _
    private val rnd = new scala.util.Random(seed * 31 + 7)
    private val thread = new Thread(() => run(), "perfbench-generator")
    @volatile var startMs = 0L

    private def run(): Unit = try {
      var i = 0
      while (i < n) {
        val due = startMs + i * 1000L / Rate
        val wait = due - Stats.epochMs
        if (wait > 0) Thread.sleep(wait)
        val seq = Backlog + i
        val r = Rec(seq, rnd.nextInt(Keys), rnd.nextInt(100), due)
        val t0 = Stats.nowMs
        lateMs.add(math.max(0L, Stats.epochMs - due).toDouble)
        val off = rec.call("sources", "produce") {
          LedgerClient.produce(Host, env.port, r.payload)
        }
        ackMs.add(Stats.nowMs - t0)
        require(off == seq, s"broker assigned offset $off to record $seq")
        env.log.add(r, Stats.epochMs)
        i += 1
      }
    } catch { case t: Throwable => error = t }

    def start(): Unit = { startMs = Stats.epochMs + 20; thread.start() }
    def join(): Unit = thread.join()
  }

  // ---- the workload -----------------------------------------------------

  def run(ctx: Run): Unit = {
    val env = ctx.setupStreaming()
    val gen = new Generator(env, ctx.rec, ctx.seed, ctx.seconds)
    gen.start()
    val pulls = new Reader(ctx, env)
    while (Stats.epochMs < gen.startMs + ctx.seconds * 1000L) pulls.pullOnce()
    gen.join()
    if (gen.error != null) throw gen.error
    val produced = env.log.size.toLong
    ctx.metric("sources.backlog_end", backlogLeft(ctx.rec, env, produced))
    // grace: every push query must cover everything produced; the view is
    // checked against the prefix it has covered (its triggers are long)
    val push = env.copy(queries = env.queries.filter(_._1 != "view"))
    waitCovered(ctx.rec, push, produced, Stats.epochMs + 30000)
    ctx.rec.drain(env.queries.map(_._2))
    ctx.info(f"steady phase ${(Stats.epochMs - gen.startMs) / 1000.0}%.1f s with grace, " +
      s"${produced - Backlog} records, ${pulls.pulls} pulls")

    generatorMetrics(ctx, gen)
    val steady = env.queries.flatMap { case (_, q) => batchesOf(ctx.rec, q) }
      .filter(_.startOffset >= Backlog)
    Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch").foreach { case (k, m) =>
      ctx.metric(s"sources.${m}_ms_p50", Stats.p50(steady.map(_.durations.getOrElse(k, 0L).toDouble)))
    }
    ctx.viewRuns = Set(env.queries.toMap.apply("view").runId.toString)
    pushMetrics(ctx, env)
    pulls.report()
    viewMetrics(ctx, env)
    ctx.checkpointMetrics()
    // sinks and the view's files outlive their queries
    env.stop()
    checkPush(ctx, env)
    checkView(ctx, env)
  }

  /** Drain the backlog: rows/s until every query's progress covers the
    * backlog's end offset, timed from when the first query was started
    * (the queries start draining while the later ones are still being
    * started). */
  def catchup(ctx: Run, env: Env): Double = {
    val t0 = env.startMs.toDouble
    val caught = waitCovered(ctx.rec, env, Backlog, Stats.epochMs + 120000)
      .getOrElse(throw new IllegalStateException("catch-up did not finish in 120 s"))
    ctx.info("catch-up per query: " + env.queries.map { case (name, q) =>
      val bs = batchesOf(ctx.rec, q).takeWhile(_.startOffset < Backlog)
      f"$name ${(bs.map(_.end).max - t0) / 1000.0}%.1f s in ${bs.size} batches"
    }.mkString(", "))
    Backlog / ((caught - t0) / 1000.0)
  }

  /** The catch-up phase alone, on a fresh set-up. */
  def catchupOnly(ctx: Run): Double = {
    val env = setup(ctx.spark, ctx.rec, ctx.runDir.resolve("single"), ctx.seed)
    try catchup(ctx, env) finally env.stop()
  }

  /** Per-record latency of each push query: due time -> end of the first
    * batch covering the record; also pooled over the three queries. */
  private def pushMetrics(ctx: Run, env: Env): Unit = {
    val recs = env.log.synchronized(env.log.recs.toVector)
    val all = mutable.ArrayBuffer.empty[Double]
    env.queries.filter(_._1 != "view").foreach { case (name, q) =>
      val bs = batchesOf(ctx.rec, q)
      val lat = mutable.ArrayBuffer.empty[Double]
      var bi = 0
      var missed = 0
      (Backlog until recs.size).foreach { o =>
        while (bi < bs.size && bs(bi).endOffset <= o) bi += 1
        if (bi < bs.size && bs(bi).startOffset <= o) lat += (bs(bi).end - recs(o).dueMs).toDouble
        else missed += 1
      }
      ctx.attempt(recs.size - Backlog, missed, s"records never emitted by $name")
      ctx.metric(s"streaming.$name.emit_p50_ms", Stats.p50(lat))
      ctx.metric(s"streaming.$name.emit_p90_ms", Stats.p90(lat))
      all ++= lat
      streamingMetrics(ctx, s"streaming.$name", bs)
    }
    ctx.metric("streaming.emit_p50_ms", Stats.p50(all))
    ctx.metric("streaming.emit_p90_ms", Stats.p90(all))
    ctx.metric("streaming.emit_mean_ms", all.sum / all.size)
  }

  /** Batches of `q` that read input, in offset order. */
  private def batchesOf(rec: Recorder, q: StreamingQuery): Seq[MicroBatch] =
    rec.progress.filter(b => b.runId == q.runId.toString && b.endOffset > b.startOffset)
      .sortBy(_.endOffset)

  /** The closed-loop reader: single-key pulls from the view. */
  private final class Reader(ctx: Run, env: Env) {
    private val keys = new scala.util.Random(ctx.seed * 17 + 3)
    private val pullMs, staleMs, frontMs, execMs, filesRead = mutable.ArrayBuffer.empty[Double]
    var pulls = 0
    private var bad = 0

    def pullOnce(): Unit = {
      val k = keys.nextInt(Keys)
      val startEpoch = Stats.epochMs
      val known = env.log.ofKey(k, startEpoch)
      pulls += 1
      try {
        val group = s"pull:$pulls"
        val (rows, ms) = ctx.rec.call("views", "pull", group) {
          val a = Stats.nowMs
          val df = env.engine.sql(s"SELECT * FROM v WHERE k = 'k$k';")
            .asInstanceOf[env.engine.Rows].df
          val b = Stats.nowMs
          ctx.rec.phasesOf(df)
          val rows = df.collect()
          val c = Stats.nowMs
          val frontend = (b - a) - Run.phaseMs(df, "analysis")
          ctx.rec.span("sql", "frontend", startEpoch.toDouble, startEpoch + frontend, group)
          frontMs += frontend
          execMs += c - b
          filesRead += Run.filesRead(df)
          (rows, c - a)
        }
        pullMs += ms
        val (n, last) = rows.headOption.map(r => (Run.long(r, "n"), Run.long(r, "last_seq")))
          .getOrElse((0L, -1L))
        // a pull shows a prefix of the key's records: n of them, up to last_seq
        if (env.log.ofKey(k, Long.MaxValue).count(_.seq <= last) != n) {
          bad += 1; ctx.info(s"pull of k$k inconsistent: n=$n last_seq=$last")
        }
        staleMs += known.find(_.seq > last).map(r => (startEpoch - r.dueMs).toDouble)
          .getOrElse(0.0)
      } catch { case t: Throwable => bad += 1; ctx.info(s"pull failed: $t") }
    }

    def report(): Unit = {
      ctx.attempt(pulls, bad, "pulls failed or inconsistent")
      ctx.metric("views.pulls", pulls.toDouble)
      ctx.metric("views.pull_p50_ms", Stats.p50(pullMs))
      ctx.metric("views.pull_p90_ms", Stats.p90(pullMs))
      ctx.metric("views.stale_p50_ms", Stats.p50(staleMs))
      ctx.metric("views.stale_p90_ms", Stats.p90(staleMs))
      ctx.metric("views.pull_frontend_ms_p50", Stats.p50(frontMs))
      ctx.metric("views.pull_exec_ms_p50", Stats.p50(execMs))
      ctx.metric("views.pull_files_read_p50", Stats.p50(filesRead))
    }
  }

  private def viewMetrics(ctx: Run, env: Env): Unit = {
    val q = env.queries.toMap.apply("view")
    val steady = batchesOf(ctx.rec, q).filter(_.startOffset >= Backlog)
    ctx.metric("views.maintain_batches", steady.size.toDouble)
    ctx.metric("views.maintain_ms_p50",
      Stats.p50(steady.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)))
    val (files, bytes) = Run.dirSize(ctx.repDir.resolve("views"))
    ctx.metric("views.files", files)
    ctx.metric("views.bytes", bytes)
  }

  /** A full pull equals the generator's per-key state over the records
    * the view covered. It covers a prefix of the log, so the prefix ends at
    * the highest `last_seq` it shows. */
  private def checkView(ctx: Run, env: Env): Unit = {
    val full = env.engine.batch("SELECT * FROM v;").collect()
      .map(r => r.getAs[String]("k") -> (Run.long(r, "n"), Run.long(r, "last_seq"))).toMap
    val prefix = full.values.map(_._2).maxOption.getOrElse(-1L) + 1
    val want = env.log.synchronized(env.log.recs.take(prefix.toInt).toVector)
      .groupBy(r => s"k${r.k}")
      .map { case (k, rs) => k -> (rs.size.toLong, rs.map(_.seq.toLong).max) }
    ctx.check(s"view full pull = generator (n, last_seq) per key over its first $prefix records",
      prefix >= Backlog && full == want)
  }

  private def backlogLeft(rec: Recorder, env: Env, produced: Long): Double =
    env.queries.map { case (_, q) =>
      val done = rec.progress.filter(_.runId == q.runId.toString).map(_.endOffset)
        .maxOption.getOrElse(0L)
      (produced - done).toDouble
    }.max

  private def generatorMetrics(ctx: Run, gen: Generator): Unit = {
    import scala.jdk.CollectionConverters._
    ctx.metric("sources.produce_ack_p50_ms", Stats.p50(gen.ackMs.asScala))
    ctx.metric("sources.produce_ack_p90_ms", Stats.p90(gen.ackMs.asScala))
    ctx.metric("sources.gen_late_p90_ms", Stats.p90(gen.lateMs.asScala))
  }

  /** Per-query progress phases and state, from the steady-phase batches
    * (the catch-up batch is excluded from the per-batch medians). */
  private def streamingMetrics(ctx: Run, prefix: String, bs: Seq[MicroBatch]): Unit = {
    val steady = bs.filter(_.startOffset >= Backlog)
    def med(k: String) = Stats.p50(steady.map(_.durations.getOrElse(k, 0L).toDouble))
    ctx.metric(s"$prefix.batches", steady.size.toDouble)
    ctx.metric(s"$prefix.rows_per_batch_p50", Stats.p50(steady.map(_.rows.toDouble)))
    ctx.metric(s"$prefix.trigger_ms_p50", med("triggerExecution"))
    ctx.metric(s"$prefix.planning_ms_p50", med("queryPlanning"))
    ctx.metric(s"$prefix.add_batch_ms_p50", med("addBatch"))
    ctx.metric(s"$prefix.wal_commit_ms_p50", med("walCommit"))
    ctx.metric(s"$prefix.commit_offsets_ms_p50", med("commitOffsets"))
    ctx.metric(s"$prefix.state_commit_ms_p50", Stats.p50(steady.map(_.stateCommitMs.toDouble)))
    ctx.metric(s"$prefix.state_rows", bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0))
    ctx.metric(s"$prefix.state_bytes", bs.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0))
  }

  /** Compare each push query's sink with what the generator sent. */
  private def checkPush(ctx: Run, env: Env): Unit = {
    val spark = ctx.spark
    val recs = env.log.synchronized(env.log.recs.toVector)
    val byName = env.queries.toMap
    // push: exactly the records with v > 50, each once
    val pushSeqs = spark.table(byName("push").name).select("seq").collect()
      .map(_.get(0).asInstanceOf[Number].longValue)
    val wantSeqs = recs.filter(_.v > 50).map(_.seq.toLong)
    ctx.check("push rows = records with v > 50",
      pushSeqs.length == wantSeqs.size && pushSeqs.toSet == wantSeqs.toSet)
    // agg: final n (and sum) per (k, 10 s window)
    val got = spark.table(byName("agg").name)
      .selectExpr("k", "unix_millis(window_start) AS w", "n", "sv")
      .groupBy("k", "w").agg(
        org.apache.spark.sql.functions.max("n"), org.apache.spark.sql.functions.max("sv"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.get(2).asInstanceOf[Number].longValue, r.get(3).asInstanceOf[Number].longValue)).toMap
    val want = recs.groupBy(r => (s"k${r.k}", Math.floorDiv(r.dueMs, 10000L) * 10000L))
      .map { case (kw, rs) => kw -> (rs.size.toLong, rs.map(_.v.toLong).sum) }
    ctx.check("agg final (n, sum) per key and window", got == want)
    // join: ordered pairs with equal k and |dt| <= 2 s, self pairs included
    val pairs = spark.table(byName("join").name).count()
    val wantPairs = recs.groupBy(_.k).values.map { rs =>
      val ts = rs.map(_.dueMs).sorted.toArray
      var lo = 0; var hi = 0; var n = 0L
      ts.indices.foreach { i =>
        while (ts(i) - ts(lo) > 2000) lo += 1
        while (hi + 1 < ts.length && ts(hi + 1) - ts(i) <= 2000) hi += 1
        n += hi - lo + 1
      }
      n
    }.sum
    ctx.check(s"join pairs ($pairs vs $wantPairs)", pairs == wantPairs)
  }
}
