package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `batch_sql`: one closed-loop client runs a fixed set of the engine's
  * batch queries into the noop sink, pass after pass, in an order the seed
  * sets. Each query is timed from the call to its builder until the sink
  * completes, since some builders run jobs themselves.
  *
  * The set: the three dialect rows (frontend and WITHIN banding), the
  * six-table shuffle join, the four queries furthest over their committed
  * baselines (LSH dedup, IVF training and search, grouped top-k), and
  * iterative connected components, where driver gaps between jobs
  * dominate. One untimed warm-up pass runs before the timed ones. One pass
  * takes 15 to 25 seconds on four cores, which is what a run can afford. */
object Batch {
  val Queries: Seq[String] = Seq(
    "q_sql_agg_having", "q_sql_interval_join", "q_sql_join_cross",
    "q_join_profit_by_nation", "q_dedup_minhash_lsh_fast", "q_ann_ivf_train",
    "q_ann_ivf", "q_curation_topk_group_scalable", "q_dedup_clusters")
  val Dialect: Set[String] = Set("q_sql_agg_having", "q_sql_interval_join", "q_sql_join_cross")

  private lazy val builders = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnly

  /** Set-up of one client session: register the tables and answer one
    * small dialect join-aggregate, so parser, planner, code generation and
    * the shuffle path are loaded before the first timed query. */
  def setup(spark: SparkSession, dir: String): Unit = {
    graft.Tables.registerAll(spark, dir)
    new graft.sql.SqlEngine(spark).batch(
      """SELECT n.n_name AS n_name, COUNT(*) AS suppliers
         FROM supplier AS s JOIN nation AS n ON s.s_nationkey = n.n_nationkey
         GROUP BY n.n_name;""").collect()
  }

  /** Outcomes of every execution, warm-up included. */
  final class Tally {
    val sums = mutable.Map.empty[String, mutable.Set[String]]
    var fails = 0
    var runs = 0
  }

  /** Run `q` once into the noop sink: its wall time in ms and its frontend
    * time in ms (0 for non-dialect queries), or None when it threw. */
  private def execute(ctx: Run, q: String, group: String, t: Tally): Option[(Double, Double)] = {
    val spark = ctx.spark
    t.runs += 1
    // each query starts from an empty cache, whatever ran before it
    spark.catalog.clearCache()
    try Some(ctx.rec.call("queries", q, group) {
      val ea = Stats.epochMs.toDouble
      val a = Stats.nowMs
      val df = builders(q)(spark, ctx.dataDir.toString)
      val b = Stats.nowMs
      ctx.rec.phasesOf(df)
      // the output check rides along the timed execution: Observation
      // collects the row count and checksum as the sink consumes rows
      val obs = org.apache.spark.sql.Observation()
      checked(df, obs).write.format("noop").mode("overwrite").save()
      val c = Stats.nowMs
      t.sums.getOrElseUpdate(q, mutable.Set.empty) += result(obs)
      val f = if (Dialect(q)) (b - a) - Run.phaseMs(df, "analysis") else 0.0
      if (Dialect(q)) ctx.rec.span("sql", s"frontend:$q", ea, ea + f, group)
      (c - a, f)
    }) catch { case e: Throwable => t.fails += 1; ctx.info(s"$q failed: $e"); None }
  }

  /** One untimed pass in the fixed order, so that every query's code
    * paths are compiled before the timed passes; otherwise a query's time
    * would depend on whether an earlier query of the pass had warmed them.
    * Its outputs are checked like every other execution. */
  def warmup(ctx: Run, t: Tally): Unit =
    Queries.foreach(q => execute(ctx, q, s"warmup:$q", t))

  def run(ctx: Run, t: Tally): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val wall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val frontend = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val start = Stats.nowMs
    while (passes.isEmpty || Stats.nowMs - start < ctx.seconds * 1000.0) {
      val pass = passes.size
      val p0 = Stats.nowMs
      rnd.shuffle(Queries).foreach { q =>
        execute(ctx, q, s"query:$q:$pass", t).foreach { case (ms, f) =>
          wall.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms
          if (Dialect(q)) frontend.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += f
        }
      }
      passes += (Stats.nowMs - p0) / 1000.0
    }
    val all = wall.values.flatten
    ctx.metric("queries.pass_s", Stats.p50(passes))
    ctx.metric("queries.passes", passes.size.toDouble)
    ctx.metric("queries.geomean_ms", math.exp(all.map(math.log).sum / all.size))
    ctx.metric("queries.p50_ms", Stats.p50(all))
    ctx.metric("rate_per_s", all.size / passes.sum)
    Queries.foreach(q => ctx.metric(s"queries.$q.s", Stats.p50(wall.getOrElse(q, Nil)) / 1000.0))
    frontend.foreach { case (q, f) => ctx.metric(s"sql.frontend_ms.$q", Stats.p50(f)) }
    ctx.attempt(t.runs, t.fails, "batch queries threw")
    // every execution of a query must match the expected row count and
    // checksum
    val expected = ctx.expected
    Queries.foreach { q =>
      val got = t.sums.getOrElse(q, mutable.Set.empty[String])
      val want = expected.get(q)
      ctx.check(s"$q rows+checksum ${got.mkString(" | ")} (expected ${want.getOrElse("none")})",
        want.exists(w => got == mutable.Set(w)))
    }
  }

  /** `df` with an order-insensitive row count and checksum attached;
    * floating values are rounded first. */
  private def checked(df: DataFrame, obs: org.apache.spark.sql.Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("h"))
  }

  private def result(obs: org.apache.spark.sql.Observation): String = {
    val r = obs.get
    s"${r("n")} ${Option(r("h")).getOrElse(0)}"
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
    case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, x => canon(x, et))
    case StructType(fs) => struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }
}
