package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.filter.{EventFilter, Match, TimeRange}

/** One generated event: the trail uuid (32 hex chars), its time and the
  * three string fields of the Wikipedia-shaped corpus. */
final case class Ev(uuid: String, time: Long, action: String, ip: String,
    title: String)

/** Shape of a generated corpus. Every event is a pure function of
  * (seed, trail number, position), so Spark tasks and the plain-Scala
  * checker produce the same stream without shipping it around.
  *
  *  - trail lengths: discrete Pareto (alpha 1.6, min 8), capped at `maxLen`;
  *  - `action`: 5 values; every trail opens with `create`;
  *  - `ip`: `ips` values, one home address per trail, 3% of events elsewhere;
  *  - `title`: `titles` values, Zipf(1.07) over the whole corpus;
  *  - time: a start within 30 days of T0, then exponential gaps (mean 600 s,
  *    floored, so equal timestamps occur). */
final case class GenSpec(seed: Long, trails: Int, titles: Int = 100000,
    ips: Int = 10000, maxLen: Int = 400)

object GenSpec {
  /** The fewest trails whose events reach `events`, so that every seed
    * yields the same corpus size to within one trail. */
  def ofEvents(seed: Long, events: Long): GenSpec = {
    val base = GenSpec(seed, 0)
    var total = 0L
    var t = 0
    while (total < events) { total += Gen.length(base, t); t += 1 }
    base.copy(trails = t)
  }
}

object Gen {
  val Fields: Seq[String] = Seq("action", "ip", "title")
  val Actions: Array[String] = Array("view", "edit", "revert", "create", "delete")
  private val ActionCdf = cdf(Array(0.55, 0.30, 0.08, 0.04, 0.03))
  val T0 = 1463696903L
  val Span = 30L * 86400L

  private def cdf(w: Array[Double]): Array[Double] = {
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def splitmix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; splitmix(s) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  }

  private def pick(c: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(c, u)
    math.min(if (i >= 0) i else -i - 1, c.length - 1)
  }

  private val zipfCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Double), Array[Double]]()
  private def zipf(n: Int, s: Double): Array[Double] =
    zipfCache.computeIfAbsent((n, s), _ =>
      cdf(Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))))

  private def trailRng(spec: GenSpec, t: Long): Rng =
    new Rng(splitmix(spec.seed * 0x632BE59BD9B4E019L + t))

  def uuidOf(spec: GenSpec, t: Long): String = {
    val r = new Rng(splitmix(spec.seed ^ 0x5DEECE66DL) + t * 0x9E3779B97F4A7C15L)
    f"${r.nextLong()}%016x${r.nextLong()}%016x"
  }

  def title(i: Int): String = s"Title_$i"
  def ip(i: Int): String = s"10.${i >>> 16 & 255}.${i >>> 8 & 255}.${i & 255}"

  private def lengthFrom(spec: GenSpec, r: Rng): Int = math.min(spec.maxLen,
    math.ceil(8.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.6)).toInt)

  /** The number of events of trail `t`. */
  def length(spec: GenSpec, t: Long): Int = lengthFrom(spec, trailRng(spec, t))

  /** The events of trail `t`, in time order. */
  def trail(spec: GenSpec, t: Long): Array[Ev] = {
    val r = trailRng(spec, t)
    val len = lengthFrom(spec, r)
    val uuid = uuidOf(spec, t)
    val titles = zipf(spec.titles, 1.07)
    val home = r.nextInt(spec.ips)
    var time = T0 + (r.nextDouble() * Span).toLong
    Array.tabulate(len) { k =>
      if (k > 0) time += (-600.0 * math.log(1.0 - r.nextDouble())).toLong
      val action = if (k == 0) "create" else Actions(pick(ActionCdf, r.nextDouble()))
      val ipId = if (r.nextDouble() < 0.03) r.nextInt(spec.ips) else home
      Ev(uuid, time, action, ip(ipId), title(pick(titles, r.nextDouble()) + 1))
    }
  }

  /** The corpus as a Dataset, generated in parallel by trail number. */
  def dataset(spark: SparkSession, spec: GenSpec, slices: Int): Dataset[Ev] = {
    import spark.implicits._
    spark.range(0L, spec.trails.toLong, 1L, slices).as[Long]
      .flatMap(t => trail(spec, t).toSeq)
  }

  /** Order-independent fingerprint term of one event; a corpus's
    * fingerprint is the wrapping sum over its events. NULL reads as "",
    * the engine's NULL ≡ "" rule. */
  def hash(uuid: String, time: Long, action: String, ip: String,
      title: String): Long = {
    def h(s: String): Long = if (s == null) 0L else s.hashCode.toLong
    var x = splitmix(time)
    x = splitmix(x ^ h(uuid)); x = splitmix(x ^ h(action))
    x = splitmix(x ^ h(ip)); splitmix(x ^ h(title))
  }

  /** Plain-Scala evaluation of a CNF filter on one event, written from the
    * reference semantics (terms OR within a clause, clauses AND; a time
    * range is half-open; NULL ≡ ""), independent of the engine's
    * Catalyst compilation. */
  def matches(f: EventFilter, e: Ev): Boolean =
    f.clauses.forall(_.terms.exists {
      case TimeRange(s, end) => e.time >= s && e.time < end
      case Match(field, v, neg) =>
        val actual = field match {
          case "action" => e.action
          case "ip" => e.ip
          case "title" => e.title
          case _ => null
        }
        if (actual == null) neg else (actual == v) != neg
    })
}
