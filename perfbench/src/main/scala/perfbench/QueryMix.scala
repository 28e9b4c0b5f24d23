package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** query_mix: declared `SparkEntry.queries` rows over a seeded events table
  * of the repository's sf0.01 test-data shape (10k events, 150 users, 5
  * event types, 100 props values, 30 days of 2024). Each row is one op: `fn(spark, dir)`
  * then `queryExecution.toRdd.count()`, with the cache cleared between
  * rows as the repository's Bench does. */
final class QueryMix(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  import QueryMix._

  private var dir = ""
  private val firstUseFailures = mutable.LinkedHashMap.empty[String, String]
  private val expectedRows = mutable.Map.empty[String, Long]
  private def outDir(q: String): String = s"$work/out/$q"
  private def eventsPath: String = s"$dir/events.parquet"

  private def generate(): Unit = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    val types = array(Seq("signup", "purchase", "view", "click", "error").map(lit): _*)
    spark.range(0L, Events, 1L, 4).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + pmod(h(2), lit(30L * 86400L * 1000000L)))
        .cast("timestamp_ntz").as("ts"),
      pmod(h(1), lit(Users.toLong)).as("user_id"),
      element_at(types, (pmod(h(3), lit(5L)) + 1).cast("int")).as("event_type"),
      (pmod(h(4), lit(20000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
      .coalesce(1).write.mode("overwrite").parquet(eventsPath)
  }

  /** Each set-up round generates the table into a fresh directory. */
  def setup(i: Int, r: Runner): Unit = {
    dir = s"$work/r$i"
    generate()
  }

  /** The first-use pass: every row once, writing its result for the
    * oracle check; the rows build their fixtures here. */
  override def warm(r: Runner): Unit = {
    val t0 = System.nanoTime()
    Rows.foreach { q =>
      spark.catalog.clearCache()
      try SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(outDir(q))
      catch {
        case NonFatal(e) => firstUseFailures(q) =
          s"${e.getClass.getSimpleName}: ${e.getMessage}".replaceAll("\\s+", " ").take(300)
      }
    }
    spark.catalog.clearCache()
    firstUseS = (System.nanoTime() - t0) / 1e9
    Rows.filterNot(firstUseFailures.contains).foreach { q =>
      expectedRows(q) = spark.read.parquet(outDir(q)).count()
    }
  }
  private var firstUseS = Double.NaN
  def warmSeconds: Double = 14.0

  /** The `t` family's layers: per-round totals, median over the traced
    * rounds. */
  def layers(traced: Seq[OpRec], tracer: Tracer): Seq[Metric] = {
    val fam = traced.filter(o => o.kind == "query" && o.ok)
    def perRound(v: OpRec => Double) =
      medianOrNaN(fam.groupBy(_.round).values.map(_.map(v).sum).toSeq)
    def spanS(o: OpRec, p: Span => Boolean) =
      tracer.spans.filter(s => s.op == o.id && p(s)).map(_.durNs / 1e9).sum
    def sched(v: GroupStats => Double)(o: OpRec) = o.sched.map(v).getOrElse(Double.NaN)
    val f = Family
    Seq(Metric("entry.first_use_s", firstUseS, "s"),
      Metric(s"entry.$f.body_s", perRound(spanS(_, _.layer == "entry")), "s"),
      Metric(s"catalyst.$f.plan_s", perRound(_.planMs.getOrElse(Double.NaN) / 1e3), "s"),
      Metric(s"scheduler.$f.exec_s", perRound(spanS(_, _.name == "execute")), "s"),
      Metric(s"scheduler.$f.jobs", perRound(sched(_.jobsEnded.toDouble)), "count"),
      Metric(s"scheduler.$f.tasks", perRound(sched(_.tasksEnded.toDouble)), "count"),
      Metric(s"scheduler.$f.shuffle_bytes",
        perRound(sched(g => (g.shuffleWriteBytes + g.shuffleReadBytes).toDouble)), "B"),
      Metric(s"scheduler.$f.driver_s", perRound(o =>
        o.sched.map(g => g.driverMs(o.startMs, o.endMs) / 1e3).getOrElse(Double.NaN)), "s"))
  }

  def prepare(): Unit = ()
  /** Every row's first use succeeded; the DuckDB check of its result runs
    * after this process. */
  def verify(): Seq[Option[String]] =
    Rows.map(q => firstUseFailures.get(q).map(e => s"first use of $q: $e"))

  def roundEvents: Long = Events * Rows.size
  def inputs: Seq[(String, Any)] = Seq("events" -> Events, "trails" -> Users,
    "distinct_event_type" -> 5, "distinct_props" -> 100, "rows" -> Rows.size)

  def round(r: Runner): Unit = Rows.foreach { q =>
    spark.catalog.clearCache()
    r.op("query", q, Events) {
      val df = r.span("entry", "body")(SparkEntry.queries(q)(spark, dir))
      r.execute(df)
    } { n =>
      expectedRows.get(q) match {
        case None => Some(s"no verified output: ${firstUseFailures.getOrElse(q, "missing")}")
        case Some(want) => Option.when(n != want)(s"$n rows, verified output has $want")
      }
    }
  }

  /** The oracle job for the DuckDB check, which runs after this process. */
  def oracle: Map[String, Any] = Map(
    "events" -> eventsPath,
    "rows" -> Rows.filterNot(firstUseFailures.contains).map(q =>
      Map("name" -> q, "sql" -> SparkEntry.oracleSql(q), "out" -> outDir(q))))

  def figures(ops: Seq[OpRec], setup: Seq[OpRec]): Seq[Metric] = {
    Seq(
      Metric("query_p50_ms", quantileMs(ops, "query", 0.5), "ms"),
      Metric("query_p90_ms", quantileMs(ops, "query", 0.9), "ms"),
      Metric("query_total_s", Stats.typicalRound(ops), "s"))
  }
}

object QueryMix {
  /** Every eighth `t_` row of `SparkEntry.queries` in byte-wise name order
    * (t_agg_summary first), which never lands on t_tdb_fixture (it reads a
    * package from outside the repository). Fixed here so that a query added
    * to or removed from the engine does not silently change the workload. */
  val Rows: Seq[String] = Seq("t_agg_summary", "t_cms", "t_distinct_items",
    "t_filter_neg_unknown", "t_heatmap", "t_lexicon", "t_paths_streamed", "t_tdb_read")
  val Events = 10000L
  val Users = 150
  /** The one `SparkEntry` family the rows come from. */
  val Family = "t"
  /** The per-layer metrics this workload measures: its figures, then its
    * layers'. Spill bytes are 0 at this size and only in trace.jsonl. */
  val Layers: Seq[(String, String)] =
    Seq("query_p50_ms" -> "ms", "query_p90_ms" -> "ms", "query_total_s" -> "s",
      "entry.first_use_s" -> "s", s"entry.$Family.body_s" -> "s",
      s"catalyst.$Family.plan_s" -> "s", s"scheduler.$Family.exec_s" -> "s",
      s"scheduler.$Family.jobs" -> "count", s"scheduler.$Family.tasks" -> "count",
      s"scheduler.$Family.shuffle_bytes" -> "B", s"scheduler.$Family.driver_s" -> "s")
}
