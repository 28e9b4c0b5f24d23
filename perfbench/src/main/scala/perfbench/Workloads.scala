package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TrailDB, TrailDBCons, TrailIndex, TrailOps}
import graft.filter.{Clause, EventFilter, TimeRange}
import graft.sources.{TdbFormat, TdbWriter}

/** A named value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One workload: set-up rounds that build its inputs, a fixed round of ops
  * repeated closed-loop, and checks of the outputs. */
abstract class Workload(val spark: SparkSession, val work: String, val seed: Long) {
  /** Compute the expected outputs in plain Scala, without the engine. */
  def prepare(): Unit
  /** Build inputs and fixtures from scratch for set-up round `i`; the last
    * round's are the ones measured. Ops run here are recorded as set-up. */
  def setup(i: Int, r: Runner): Unit
  def round(r: Runner): Unit
  /** Checks too costly to make per op, one entry per check: what is
    * wrong, if anything. */
  def verify(): Seq[Option[String]]
  /** Input events one round processes. */
  def roundEvents: Long
  /** Untimed first use before the loop: JIT, caches, lazy fixtures. */
  def warm(r: Runner): Unit = round(r)
  /** Bare rounds, in seconds, run after first use and before the timed
    * loop, so the loop sits past the JIT's steep phase. */
  def warmSeconds: Double
  def inputs: Seq[(String, Any)]
  /** The workload's own end-to-end figures, from the untraced loop ops and
    * the set-up ops. */
  def figures(loop: Seq[OpRec], setup: Seq[OpRec]): Seq[Metric]
  /** The workload's own per-layer metrics beyond its figures, from the
    * traced ops (set-up included) and their spans. */
  def layers(traced: Seq[OpRec], tracer: Tracer): Seq[Metric]

  protected def slices: Int = spark.sparkContext.defaultParallelism * 2
  protected def rm(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }
  protected def walls(ops: Seq[OpRec], kind: String): Seq[Double] =
    ops.filter(o => o.kind == kind && o.ok).map(_.wallS)
  protected def perSecond(n: Long, ops: Seq[OpRec], kind: String): Double = {
    val w = walls(ops, kind)
    if (w.isEmpty) Double.NaN else n / Stats.median(w)
  }
  protected def quantileMs(ops: Seq[OpRec], kind: String, q: Double): Double = {
    val w = walls(ops, kind)
    if (w.isEmpty) Double.NaN else Stats.quantile(w, q) * 1e3
  }
  protected def medianOrNaN(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs)
}

/** Plain-Scala view of a generated corpus: size, fingerprint, distinct
  * values, and per-filter match counts. */
final class Expected(spec: GenSpec, filters: Seq[(String, EventFilter)],
    keepTrails: Set[Long]) {
  var events = 0L
  var hash = 0L
  val counts: mutable.Map[String, Long] = mutable.LinkedHashMap(filters.map(_._1 -> 0L): _*)
  val trails = mutable.Map.empty[String, (Long, Long)]
  private val actions = mutable.HashSet.empty[String]
  private val ips = mutable.HashSet.empty[String]
  private val titles = mutable.HashSet.empty[String]

  (0L until spec.trails.toLong).foreach { t =>
    val evs = Gen.trail(spec, t)
    var th = 0L
    evs.foreach { e =>
      val h = Gen.hash(e.uuid, e.time, e.action, e.ip, e.title)
      hash += h
      th += h
      actions += e.action; ips += e.ip; titles += e.title
      filters.foreach { case (name, f) =>
        if (Gen.matches(f, e)) counts(name) += 1
      }
    }
    events += evs.length
    if (keepTrails.contains(t)) trails(evs.head.uuid) = (evs.length.toLong, th)
  }

  def sizes: Seq[(String, Any)] = Seq(
    "events" -> events, "trails" -> spec.trails,
    "distinct_action" -> actions.size, "distinct_ip" -> ips.size,
    "distinct_title" -> titles.size)
}

object Fingerprint {
  /** Row count and order-independent fingerprint of (uuid, time, fields). */
  def of(df: DataFrame): (Long, Long) =
    df.select("uuid", "time", "action", "ip", "title").rdd
      .map(r => (1L, Gen.hash(r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4))))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def ofRows(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.map(r => Gen.hash(r.getAs[String]("uuid"),
      r.getAs[Long]("time"), r.getAs[String]("action"), r.getAs[String]("ip"),
      r.getAs[String]("title"))).sum)

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith(".")).map(f => dirBytes(f.getPath)).sum
  }
}

/** tdb_read: the paper's read layers over a db, its index, a v1 package
  * and four uuid-disjoint shards. Its set-up is the write path the
  * fixture needs — `tdb make` (finalize to parquet), `tdb index` and the
  * v1 package export — run as recorded ops, so set-up time and the ingest
  * figures measure it. */
final class Read(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val spec = GenSpec.ofEvents(seed, Read.Events)
  private def trails = spec.trails
  private def n = exp.events
  private var dir = ""
  private var input: Option[DataFrame] = None
  private var bytes = (0L, 0L)
  private var db: TrailDB = _
  private var index: DataFrame = _
  private var shards: Seq[TrailDB] = Nil
  private var exp: Expected = _
  private val fieldSet = Gen.Fields.toSet
  private def pkg = s"$dir/db.tdb"

  /** The reference suite's filter shapes (test_tdbcli.py:92-141). */
  private val filterTexts: Seq[(String, Either[String, (Long, Long)])] = Seq(
    "single" -> Left("title=Title_2000"),
    "conjunction" -> Left("action=revert & title=Title_500"),
    "disjunction" -> Left("title=Title_3000 title=Title_4000"),
    "negation" -> Left("action!=view"),
    "mixed" -> Left("action=edit action=revert & ip=10.0.0.7 title=Title_1000"),
    "every_trail" -> Left("action=create"),
    "time_range" -> Right((Gen.T0 + 5 * 86400L, Gen.T0 + 6 * 86400L)))
  private def compile(spec: Either[String, (Long, Long)]): EventFilter = spec match {
    case Left(text) => EventFilter.parse(text)
    case Right((a, b)) => EventFilter(Seq(Clause(Seq(TimeRange(a, b)))))
  }

  private val rng = new Gen.Rng(seed * 31 + 7)
  private val hitTrails: Seq[Long] = Seq.fill(4)(rng.nextInt(trails).toLong)
  private val missUuids: Seq[String] = Seq.fill(4)(f"${rng.nextLong()}%016x${rng.nextLong()}%016x")
  private var hitUuids: Seq[String] = Nil

  def setup(i: Int, r: Runner): Unit = {
    dir = s"$work/r$i"
    input.foreach(_.unpersist(blocking = true))
    val in = Gen.dataset(spark, spec, slices).toDF().cache()
    input = Some(in)
    in.count()
    val built = r.op("finalize", "", n)(r.span("core", "finalize")(
      new TrailDBCons(spark, Gen.Fields).add(in).finalizeTo(s"$dir/db"))) { db =>
      same(db.numEvents, n, "finalized events")
    }
    val fresh = built.getOrElse(sys.error(s"set-up round $i could not finalize the db"))
    r.op("index_build", "", n)(r.span("core", "index_build")(
      TrailIndex.build(fresh, s"$dir/db.index"))) { _ =>
      Option.when(!new File(s"$dir/db.index", TrailIndex.SidecarName).isFile)("index has no sidecar")
    }
    r.op("write_pkg", "", n)(r.span("sources", "write_pkg")(
      TdbWriter.writePackage(fresh.df, Gen.Fields, pkg))) { _ =>
      val m = TdbFormat.TdbMeta.open(pkg)
      Option.when(m.numEvents != n || m.numTrails != trails)(
        s"package holds ${m.numEvents} events / ${m.numTrails} trails")
    }
    bytes = (Fingerprint.dirBytes(s"$dir/db"), new File(pkg).length())
    db = TrailDB.open(spark, s"$dir/db")
    index = TrailIndex.open(spark, s"$dir/db.index")
    // The db's part files are uuid-disjoint (finalize hash-partitions by
    // uuid); hard-link them round-robin into four shard directories.
    val parts = new File(s"$dir/db").listFiles().map(_.getName)
      .filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted
    shards = parts.zipWithIndex.groupBy(_._2 % 4).toSeq.sortBy(_._1).map { case (k, ps) =>
      val sd = Paths.get(s"$dir/shard$k")
      Files.createDirectories(sd)
      ps.foreach { case (p, _) => Files.createLink(sd.resolve(p), Paths.get(s"$dir/db/$p")) }
      TrailDB.open(spark, sd.toString)
    }
  }

  def prepare(): Unit = {
    exp = new Expected(spec, filterTexts.map { case (k, v) => k -> compile(v) },
      hitTrails.toSet)
    hitUuids = hitTrails.map(t => Gen.uuidOf(spec, t))
  }

  def warmSeconds: Double = 12.0
  def inputs: Seq[(String, Any)] = exp.sizes ++ Seq("shards" -> shards.size)
  def roundEvents: Long = n * (5 + 2 * filterTexts.size)

  private def same(got: Long, want: Long, what: String) =
    Option.when(got != want)(s"$what: $got, expected $want")

  def round(r: Runner): Unit = {
    r.op("meta_open", "", 0)(r.span("sources", "meta_open")(TdbFormat.TdbMeta.open(pkg))) {
      m => same(m.numEvents, n, "package events")
    }
    r.op("decode_all", "", n) {
      r.execute(r.span("sources", "load")(spark.read.format("tdb").load(pkg)))
    }(same(_, n, "decoded events"))
    r.op("decode_field", "action", n) {
      r.execute(r.span("sources", "load")(spark.read.format("tdb").load(pkg).select("action")))
    }(same(_, n, "decoded events"))
    r.op("decode_1t", "", n)(r.span("sources", "decode_1t")(decodeSingleThread()))(
      same(_, n, "decoded events"))
    r.op("scan", "", n)(r.execute(r.span("core", "df")(db.df)))(same(_, n, "scanned events"))
    filterTexts.foreach { case (name, text) =>
      val want = exp.counts(name)
      r.op("filter", s"$name unindexed", n) {
        val f = r.span("filter", "compile") { val f = compile(text); f.toColumn(fieldSet); f }
        r.count(r.span("core", "events")(db.events(f)))
      }(same(_, want, s"filter $name"))
      r.op("filter", s"$name indexed", n) {
        val f = r.span("filter", "compile") { val f = compile(text); f.toColumn(fieldSet); f }
        val pages = r.span("core", "index_candidates")(TrailIndex.candidatePages(index, f))
        pagesKept += pages.map(_.size).getOrElse(256) / 256.0
        r.count(r.span("core", "pruned_events")(TrailIndex.prunedDb(db, pages).events(f)))
      }(same(_, want, s"indexed filter $name"))
    }
    val lookups = hitUuids.map(_ -> true) ++ missUuids.map(_ -> false)
    lookups.zipWithIndex.foreach { case ((u, hit), i) =>
      val onPackage = i % 2 == 0
      val want = if (hit) exp.trails(u) else (0L, 0L)
      r.op("lookup", s"${if (hit) "hit" else "miss"} ${if (onPackage) "package" else "db"}", 0) {
        val df =
          if (onPackage) r.span("sources", "load")(
            spark.read.format("tdb").load(pkg).filter(col("uuid") === u))
          else r.span("core", "trail")(db.trail(u))
        r.plan(df)
        r.span("spark", "collect")(df.collect())
      }(rows => Option.when(Fingerprint.ofRows(rows) != want)(
        s"lookup $u returned ${Fingerprint.ofRows(rows)} (rows, hash), expected $want"))
    }
    r.op("merge", s"k=${shards.size}", n) {
      r.execute(r.span("core", "multi_cursor")(TrailOps.multiCursor(shards)))
    }(same(_, n, "merged events"))
  }

  private val pagesKept = mutable.ArrayBuffer.empty[Double]

  /** Walk every trail of the package with the format's TrailDecoder on
    * this thread alone, the way a partition reader does, but without
    * Spark. Returns the number of events decoded. */
  private def decodeSingleThread(): Long = {
    val meta = TdbFormat.TdbMeta.open(pkg)
    val cb = TdbFormat.codebook(meta.archive, meta.version)
    val data = meta.archive.readAll("trails.data", pad = 16)
    val w = meta.tocWidth
    val toc = meta.archive.readAll("trails.toc")
    def off(i: Long): Long =
      if (w == 4) TdbFormat.leInt(toc, (i * 4).toInt) & 0xffffffffL
      else TdbFormat.leLong(toc, (i * 8).toInt)
    var events = 0L
    var t = 0L
    while (t < meta.numTrails) {
      val a = off(t)
      val len = off(t + 1) - a
      if (len > 0) {
        val d = new TdbFormat.TrailDecoder(meta, cb,
          java.util.Arrays.copyOfRange(data, a.toInt, (a + len + 16).toInt), len)
        while (d.next()) {
          events += 1
          decodeSink += d.timestamp + d.value(0) + d.value(1) + d.value(2)
        }
      }
      t += 1
    }
    events
  }
  /** Keeps the decoded values live, so the walk cannot be optimized away. */
  @volatile var decodeSink = 0L

  /** The last set-up's db, package and shards each hold exactly the
    * generated events. */
  def verify(): Seq[Option[String]] = {
    val want = (exp.events, exp.hash)
    Seq("parquet db" -> db.df, "package" -> spark.read.format("tdb").load(pkg),
      "merged shards" -> TrailOps.multiCursor(shards)).map { case (what, df) =>
      val got = Fingerprint.of(df)
      Option.when(got != want)(s"$what decodes to $got (rows, hash), generated $want")
    }
  }

  def figures(ops: Seq[OpRec], setup: Seq[OpRec]): Seq[Metric] = {
    val makeIndex = setup.filter(o => o.ok && (o.kind == "finalize" || o.kind == "index_build"))
      .groupBy(_.round).values.map(_.map(_.wallS).sum).toSeq
    Seq(
      Metric("ingest_events_per_s",
        if (makeIndex.isEmpty) Double.NaN else n / Stats.median(makeIndex), "events/s"),
      Metric("pkg_write_events_per_s", perSecond(n, setup, "write_pkg"), "events/s"),
      Metric("bytes_per_event_parquet", bytes._1.toDouble / n, "B/event"),
      Metric("bytes_per_event_tdb", bytes._2.toDouble / n, "B/event"),
      Metric("decode_events_per_s", perSecond(n, ops, "decode_all"), "events/s"),
      Metric("scan_events_per_s", perSecond(n, ops, "scan"), "events/s"),
      Metric("merge_events_per_s", perSecond(n, ops, "merge"), "events/s"),
      Metric("filter_p50_ms", quantileMs(ops, "filter", 0.5), "ms"),
      Metric("filter_p90_ms", quantileMs(ops, "filter", 0.9), "ms"),
      Metric("lookup_p50_ms", quantileMs(ops, "lookup", 0.5), "ms"),
      Metric("lookup_p95_ms", quantileMs(ops, "lookup", 0.95), "ms"))
  }

  def layers(ops: Seq[OpRec], tracer: Tracer): Seq[Metric] = {
    val filters = ops.filter(o => o.kind == "filter" && o.ok)
    val readPerOut = filters.flatMap(o => o.sched.map(s => s.recordsRead.toDouble / math.max(1L, o.rows)))
    def planMs(kind: String) = medianOrNaN(ops.filter(o => o.kind == kind && o.ok).flatMap(_.planMs))
    def spanMs(name: String) =
      medianOrNaN(tracer.spans.filter(_.name == name).map(_.durNs / 1e6).toSeq)
    // scheduler counters of each op kind: median over the op's runs
    val sched = Read.OpKinds.flatMap { kind =>
      val s = ops.filter(o => o.kind == kind && o.ok).flatMap(o => o.sched.map(o -> _))
      def med(f: ((OpRec, GroupStats)) => Double) = medianOrNaN(s.map(f))
      Seq(Metric(s"scheduler.$kind.tasks", med(_._2.tasksEnded.toDouble), "count"),
        Metric(s"scheduler.$kind.task_run_s", med(_._2.taskRunMs / 1e3), "s"),
        Metric(s"scheduler.$kind.driver_s",
          med { case (o, g) => g.driverMs(o.startMs, o.endMs) / 1e3 }, "s"),
        Metric(s"scheduler.$kind.shuffle_write_bytes", med(_._2.shuffleWriteBytes.toDouble), "B"),
        Metric(s"scheduler.$kind.shuffle_read_bytes", med(_._2.shuffleReadBytes.toDouble), "B"))
    }
    sched ++ Seq(
      Metric("core.finalize_s", quantileMs(ops, "finalize", 0.5) / 1e3, "s"),
      Metric("core.index_build_s", quantileMs(ops, "index_build", 0.5) / 1e3, "s"),
      Metric("sources.write_pkg_s", quantileMs(ops, "write_pkg", 0.5) / 1e3, "s"),
      Metric("sources.meta_open_ms", quantileMs(ops, "meta_open", 0.5), "ms"),
      Metric("sources.decode_1t_events_per_s", perSecond(n, ops, "decode_1t"), "events/s"),
      Metric("sources.decode_field_events_per_s", perSecond(n, ops, "decode_field"), "events/s"),
      Metric("filter.compile_ms", spanMs("compile"), "ms"),
      Metric("catalyst.filter.plan_ms", planMs("filter"), "ms"),
      Metric("catalyst.lookup.plan_ms", planMs("lookup"), "ms"),
      Metric("core.index_candidates_ms", spanMs("index_candidates"), "ms"),
      Metric("core.index_pages_kept_ratio", medianOrNaN(pagesKept.toSeq), "ratio"),
      Metric("scheduler.filter.rows_read_per_row_out", medianOrNaN(readPerOut), "ratio"))
  }
}

object Read {
  /** Corpus size: as many trails as it takes to reach this many events. */
  val Events = 48000L
  /** Op kinds whose scheduler counters are reported. */
  val OpKinds: Seq[String] = Seq("finalize", "index_build", "write_pkg",
    "decode_all", "scan", "filter", "lookup", "merge")
  /** Ops that shuffle; the others' shuffle bytes are 0 by construction. */
  private val Shuffling = Set("finalize", "index_build", "write_pkg", "filter", "merge")
  /** The per-layer metrics this workload measures: its figures, then its
    * layers'. Spill bytes are 0 at this size and only in trace.jsonl. */
  val Layers: Seq[(String, String)] =
    Seq("ingest_events_per_s" -> "events/s", "pkg_write_events_per_s" -> "events/s",
      "bytes_per_event_parquet" -> "B/event", "bytes_per_event_tdb" -> "B/event",
      "decode_events_per_s" -> "events/s", "scan_events_per_s" -> "events/s",
      "merge_events_per_s" -> "events/s", "filter_p50_ms" -> "ms",
      "filter_p90_ms" -> "ms", "lookup_p50_ms" -> "ms", "lookup_p95_ms" -> "ms") ++
    OpKinds.flatMap { k =>
      Seq(s"scheduler.$k.tasks" -> "count", s"scheduler.$k.task_run_s" -> "s",
        s"scheduler.$k.driver_s" -> "s") ++
      (if (Shuffling(k)) Seq(s"scheduler.$k.shuffle_write_bytes" -> "B",
        s"scheduler.$k.shuffle_read_bytes" -> "B") else Nil)
    } ++
    Seq("core.finalize_s" -> "s", "core.index_build_s" -> "s",
      "sources.write_pkg_s" -> "s", "sources.meta_open_ms" -> "ms",
      "sources.decode_1t_events_per_s" -> "events/s",
      "sources.decode_field_events_per_s" -> "events/s",
      "filter.compile_ms" -> "ms", "catalyst.filter.plan_ms" -> "ms",
      "catalyst.lookup.plan_ms" -> "ms", "core.index_candidates_ms" -> "ms",
      "core.index_pages_kept_ratio" -> "ratio",
      "scheduler.filter.rows_read_per_row_out" -> "ratio")
}
