package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Closed loop with one caller: a cold pass over the query list, one
  * unmeasured warm-up pass (the first pass after the cold one still runs
  * about a fifth slower while the JIT settles), then one
  * warm pass per `NominalPassS` of `--seconds` (at least two), so every run
  * takes its medians over as many passes, however fast the host is that
  * day. Each query is three timed calls into the program, one per layer:
  *
  *   operators.call      `SparkEntry.queries(name)(spark, fixture)`, which
  *                       may run eager driver-side jobs
  *   plans.executedPlan  Catalyst and `graft.plans` planning of the digest
  *   exec.action         the digest action, which reads every output column
  */
object BatchRun {

  private val NominalPassS = 5.0

  final case class QRun(name: String, callMs: Double, planMs: Double, actionMs: Double,
      rows: Long, hash: String, error: String, shape: Map[String, Long]) {
    def toMap: Map[String, Any] = Map("name" -> name, "call_ms" -> callMs,
      "plan_ms" -> planMs, "action_ms" -> actionMs, "rows" -> rows, "hash" -> hash,
      "error" -> Option(error), "shape" -> shape)
  }

  /** Order-independent digest of the whole result: the row count and the
    * exact sum of every row's xxhash64 over all its columns. Unlike
    * `count()`, it keeps Catalyst from pruning any output column. */
  def digest(df: DataFrame): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    renamed.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast(DecimalType(38, 0))).as("s"))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Operator counts of the executed (final adaptive) plan. */
  def planShape(p: SparkPlan): Map[String, Long] = {
    val ns = nodes(p)
    def count(f: SparkPlan => Boolean) = ns.count(f).toLong
    Map(
      "exchanges" -> count(_.isInstanceOf[Exchange]),
      "sorts" -> count(_.nodeName == "Sort"),
      "windows" -> count(_.nodeName.startsWith("Window")),
      "asof_execs" -> count(_.getClass.getName.startsWith("graft.plans.Asof")),
      "topk_aggs" -> count(_.expressions.exists(_.toString.contains("TopKAggregator"))))
  }

  def run(opts: Map[String, String], gc: GcWatch): Map[String, Any] = {
    val spark = Harness.session(opts)
    val sc = spark.sparkContext
    val fixture = opts("fixture")
    val names = opts("queries").split(",").toSeq
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val tracer = new Tracer(traced, opts("run_id"))
    val untracedTimer = new Tracer(false, opts("run_id"))
    val listener = new LayerListener(tracer)
    val queries = graft.SparkEntry.queries
    if (traced) sc.addSparkListener(listener)
    Harness.ready()

    def runQuery(label: String, name: String, t: Tracer, parent: Int): QRun =
      t.span(name, parent) { qid =>
        def layer[T](span: String, phase: String)(body: => T): (T, Double) =
          t.span(span, qid) { id =>
            if (t.enabled) LayerListener.mark(sc, s"$label\t$name\t$phase", id)
            val t0 = System.nanoTime()
            val r = body
            (r, (System.nanoTime() - t0) / 1e6)
          }
        try {
          val (df, callMs) = layer("operators.call", "call")(queries(name)(spark, fixture))
          val d = digest(df)
          val (_, planMs) = layer("plans.executedPlan", "plan")(d.queryExecution.executedPlan)
          val (row, actionMs) = layer("exec.action", "action")(d.collect().head)
          val shape = if (t.enabled) planShape(d.queryExecution.executedPlan) else Map.empty[String, Long]
          QRun(name, callMs, planMs, actionMs, row.getLong(0), String.valueOf(row.get(1)), null, shape)
        } catch {
          case e: Throwable =>
            System.err.println(s"perfbench: query $name failed: $e")
            QRun(name, -1, -1, -1, -1, "", e.toString.take(500), Map.empty)
        }
      }

    def pass(label: String, t: Tracer): Map[String, Any] = {
      val t0 = System.nanoTime()
      val runs = t.span(label, 0)(id => names.map(n => runQuery(label, n, t, id)))
      Map("label" -> label, "wall_s" -> (System.nanoTime() - t0) / 1e9,
        "traced" -> t.enabled, "queries" -> runs.map(_.toMap))
    }

    val gc0 = gc.gcMs
    val cold = pass("cold", tracer)
    val warm = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val warmup = if (opts.get("cold_only").contains("1")) None else Some(pass("warmup", tracer))
    if (warmup.nonEmpty) {
      // A traced run alternates warm passes with the listener detached, so
      // it can state its own tracing overhead.
      val passes = math.max(2, math.round(seconds / NominalPassS).toInt)
      while (warm.count(_("traced") == traced) < passes) {
        val t = if (traced && warm.size % 2 == 0) untracedTimer else tracer
        if (traced) {
          LayerListener.drain(sc)
          if (t eq tracer) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
        }
        warm += pass(s"warm${warm.size + 1}", t)
      }
    }
    if (traced) LayerListener.drain(sc)
    val phases = listener.byPhase.asScala.map { case (k, s) => k -> s.toMap }.toMap
    val out = Map("cold" -> cold, "warmup" -> warmup, "warm" -> warm.toSeq,
      "gc_ms_run" -> (gc.gcMs - gc0), "phases" -> phases, "spans" -> tracer.toJson)
    spark.stop()
    out
  }
}
