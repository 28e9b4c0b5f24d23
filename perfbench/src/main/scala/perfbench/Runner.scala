package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation. `events` is how many input events it processed;
  * `planMs` is its frame's Catalyst analysis + optimization + planning. */
final case class OpRec(id: Int, kind: String, label: String, round: Int,
    traced: Boolean, startNs: Long, wallNs: Long, startMs: Long, endMs: Long, events: Long,
    error: Option[String], sched: Option[GroupStats], planMs: Option[Double],
    rows: Long, setup: Boolean) {
  def ok: Boolean = error.isEmpty
  def wallS: Double = wallNs / 1e9
  def wallMs: Double = wallNs / 1e6
}

/** Runs ops from one client thread, closed loop: each op starts when the
  * previous one has returned. Each op gets its own job group; the listener
  * is attached for traced ops only and attributes scheduler counters to
  * the op's group, so bare ops run as in an untraced run. */
final class Runner(val spark: SparkSession) {
  private val sc = spark.sparkContext
  val tracer = new Tracer
  private val listener = new OpListener(sc)
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Loop rounds count from 0; ops of a negative round (warm-up) are not
    * recorded. During set-up, `round` is the set-up round. */
  var round = -1
  var inSetup = false
  var traced = false
  private var nextOp = 0
  private var planMs: Option[Double] = None
  private var rows = -1L

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  /** Plan `df` inside a catalyst span and remember its planning phases. */
  def plan(df: DataFrame): DataFrame = {
    span("catalyst", "plan")(df.queryExecution.executedPlan)
    val ph = df.queryExecution.tracker.phases
    planMs = Some(Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs.toDouble).sum)
    df
  }

  /** Execute `df`'s full physical plan (not a pruned count) and return
    * its row count. */
  def execute(df: DataFrame): Long = {
    plan(df)
    val n = span("spark", "execute")(df.queryExecution.toRdd.count())
    rows = n
    n
  }

  /** `df.count()`, planned and executed in separate spans. */
  def count(df: DataFrame): Long = {
    val c = plan(span("catalyst", "analyze")(df.groupBy().count()))
    val n = span("spark", "execute")(c.collect()(0).getLong(0))
    rows = n
    n
  }

  /** Run one op. `check` inspects its result outside the timed region and
    * names what is wrong with it, if anything. */
  def op[T](kind: String, label: String, events: Long)(body: => T)(
      check: T => Option[String]): Option[T] = {
    val id = nextOp
    nextOp += 1
    val group = s"perfbench-$id"
    if (traced) { listener.watching = group; sc.addSparkListener(listener) }
    sc.setJobGroup(group, s"$kind $label", interruptOnCancel = false)
    tracer.op = id
    tracer.on = traced
    planMs = None
    rows = -1L
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body)
      catch { case NonFatal(e) => Left(e) }
    val wall = System.nanoTime() - t0
    val m1 = System.currentTimeMillis()
    tracer.on = false
    sc.clearJobGroup()
    val wrong = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
    }
    val drained = Option.when(traced) {
      try listener.drain(group) finally sc.removeSparkListener(listener)
    }
    val error = wrong.orElse(drained.flatMap(_.left.toOption))
      .map(_.replaceAll("\\s+", " ").take(300))
    if (inSetup || round >= 0)
      ops += OpRec(id, kind, label, round, traced, t0, wall, m0, m1, events, error,
        drained.flatMap(_.toOption), planMs, rows, inSetup)
    else {
      error.foreach(e => System.err.println(s"[perfbench] warm-up $kind $label: $e"))
      tracer.dropOp(id)
    }
    res.toOption.filter(_ => error.isEmpty)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Each op's median seconds over the rounds, by position in the round.
    * Robust to one slow op in one round, and smoother than the median of
    * a few round totals. */
  def typicalOps(ops: Seq[OpRec]): Seq[Double] = {
    val rounds = ops.groupBy(_.round).values.map(_.sortBy(_.id)).toSeq
    if (rounds.isEmpty) Nil
    else (0 until rounds.map(_.size).min).map(i => median(rounds.map(_(i).wallS)))
  }
  def typicalRound(ops: Seq[OpRec]): Double = typicalOps(ops).sum
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
