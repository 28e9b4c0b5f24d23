package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result file.
  *
  * {{{
  * Main --workload tdb_read|query_mix --seed N --seconds S
  *      --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * Untraced (`--trace 0`) every round is timed bare and the end-to-end
  * metrics come from them. Traced (`--trace 1`) rounds go bare, traced,
  * traced, bare, so a warm-up trend weighs on both kinds alike; the
  * per-layer metrics come from the traced rounds, and the ratio of the two
  * kinds' typical rounds is the tracing overhead. */
object Main {
  val SetupRounds = 6
  /** Per-layer metrics both workloads measure. */
  val Common: Seq[(String, String)] = Seq("jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB",
    "trace.unattributed_s" -> "s", "trace.unattributed_ratio" -> "ratio",
    "trace.overhead_ratio" -> "ratio")
  /** Each workload's own per-layer metrics. A traced run reports all of
    * them: the other workload's read 0, as that layer is never called. */
  val PerLayer: Seq[(String, Seq[(String, String)])] =
    Seq("tdb_read" -> Read.Layers, "query_mix" -> QueryMix.Layers)

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def session(cpus: Int, work: String): SparkSession = {
    // The session settings of the repository's Bench main.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = name match {
      case "tdb_read" => new Read(spark, work, seed)
      case "query_mix" => new QueryMix(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tp = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - tp) / 1e9

    val r = new Runner(spark)
    // Set-up runs SetupRounds times from scratch; the median is setup_s.
    // The first rounds are cold, so the median, the mean of the third and
    // fourth slowest, sits on the JIT's flatter part.
    r.inSetup = true
    r.traced = trace
    val setupS = (1 to SetupRounds).map { i =>
      r.round = i
      val t = System.nanoTime(); w.setup(i, r); (System.nanoTime() - t) / 1e9
    }
    r.inSetup = false
    r.traced = false
    r.round = -1
    // Warm up until the JIT is past its steep phase: first use, then
    // rounds for at least the workload's warm seconds, so the timed rounds
    // sit on the flat part of the curve. A traced run warms the traced
    // path too, alternating; warm-up ops are not recorded.
    val tw = System.nanoTime()
    r.traced = trace
    w.warm(r)
    val tr = System.nanoTime()
    var wk = 0
    do { r.traced = trace && wk % 2 == 1; w.round(r); wk += 1 }
    while (wk < (if (trace) 2 else 1) || (System.nanoTime() - tr) / 1e9 < w.warmSeconds)
    val warmS = (System.nanoTime() - tw) / 1e9
    val gc0 = gcSeconds
    val tl = System.nanoTime()
    var k = 0
    while (k < (if (trace) 2 else 1) || (System.nanoTime() - tl) / 1e9 < seconds) {
      r.round = k
      r.traced = trace && (k % 4 == 1 || k % 4 == 2) // bare, traced, traced, bare, ...
      w.round(r)
      k += 1
    }
    val loopS = (System.nanoTime() - tl) / 1e9
    val gcS = gcSeconds - gc0
    val tv = System.nanoTime()
    val checks = w.verify()
    val verifyS = (System.nanoTime() - tv) / 1e9

    val ops = r.ops.toSeq
    val setupOps = ops.filter(_.setup)
    val bare = ops.filterNot(o => o.traced || o.setup)
    val traced = ops.filter(o => o.traced && !o.setup)
    val bareRound = Stats.typicalRound(bare)
    val failures = ops.filterNot(_.ok).map(o => s"${o.kind} ${o.label}: ${o.error.get}") ++
      checks.flatten

    val e2e = Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("events_per_s", w.roundEvents / bareRound, "events/s"),
      Metric("op_geomean_ms", Stats.geomean(Stats.typicalOps(bare)) * 1e3, "ms"))
    val figures = w.figures(bare, setupOps)

    // Per-layer: the workload's own metrics start unmeasured (NaN) and
    // must all be filled; the other workload's read 0.
    val own = (Common ++ PerLayer.toMap.apply(name)).map(_._1).toSet
    val layer = scala.collection.mutable.LinkedHashMap(
      (Common ++ PerLayer.flatMap(_._2)).map { case (n, u) =>
        n -> Metric(n, if (own(n)) Double.NaN else 0.0, u)
      }: _*)
    def put(m: Metric): Unit = if (own(m.name)) layer(m.name) = m
    if (trace) {
      val tracedAll = ops.filter(_.traced)
      figures.foreach(put)
      w.layers(tracedAll, r.tracer).foreach(put)
      put(Metric("jvm.gc_s", gcS, "s"))
      put(Metric("jvm.peak_heap_mb", peakHeapMb, "MB"))
      // unattributed: an op's wall time minus its layers' self times, i.e.
      // the harness's own time inside the op; the ratio is the worst op's
      val unattributed = tracedAll.map { o =>
        o -> (o.wallNs - r.tracer.selfNs(o.id).map(_._2).sum)
      }
      put(Metric("trace.unattributed_s", unattributed.map(_._2).sum / 1e9, "s"))
      put(Metric("trace.unattributed_ratio",
        unattributed.map { case (o, u) => u.toDouble / o.wallNs }.max, "ratio"))
      put(Metric("trace.overhead_ratio",
        Stats.typicalRound(traced) / bareRound, "ratio"))
      writeTrace(s"$work/trace.jsonl", r, tracedAll)
    }
    val unmeasured = if (trace) layer.values.filter(_.value.isNaN).map(_.name).toSeq else Nil

    val oracle = w match { case q: QueryMix => Some(q.oracle); case _ => None }
    def ms(xs: Seq[Metric]) = xs.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
    val result = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "rounds" -> k,
      "attempted" -> (ops.size + checks.size), "failed" -> failures.size,
      "failures" -> failures, "unmeasured" -> unmeasured,
      "end_to_end" -> ms(e2e), "figures" -> ms(figures),
      "per_layer" -> (if (trace) ms(layer.values.toSeq) else Map.empty),
      "timings_s" -> Map("session" -> sessionS, "setup_rounds" -> setupS,
        "prepare_checks" -> prepareS, "warm_round" -> warmS, "loop" -> loopS,
        "verify" -> verifyS),
      "samples" -> Map("ops" -> bare.size, "rounds" -> bare.map(_.round).distinct.size,
        "round_s" -> bare.groupBy(_.round).toSeq.sortBy(_._1).map(_._2.map(_.wallS).sum),
        "filter" -> bare.count(_.kind == "filter"), "lookup" -> bare.count(_.kind == "lookup"),
        "query" -> bare.count(_.kind == "query"), "traced_ops" -> traced.size),
      "op_median_ms" -> bare.groupBy(o => s"${o.kind} ${o.label}".trim)
        .map { case (k, os) => k -> Stats.median(os.map(_.wallMs)) },
      "env" -> Map("nproc" -> cpus, "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "inputs" -> w.inputs.toMap),
      "oracle" -> oracle)
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }

  private def writeTrace(path: String, r: Runner, traced: Seq[OpRec]): Unit = {
    val ids = traced.map(_.id).toSet
    val opLines = traced.map { o =>
      Json(Map("op" -> o.id, "kind" -> o.kind, "label" -> o.label, "setup" -> o.setup,
        "start_ns" -> o.startNs, "wall_ns" -> o.wallNs, "counters" -> o.sched.map(g => Map(
          "jobs" -> g.jobsEnded, "stages" -> g.stagesCompleted.size, "tasks" -> g.tasksEnded,
          "tasks_failed" -> g.tasksFailed,
          "task_run_ms" -> g.taskRunMs, "shuffle_write_bytes" -> g.shuffleWriteBytes,
          "shuffle_read_bytes" -> g.shuffleReadBytes, "spill_bytes" -> g.spillBytes,
          "records_read" -> g.recordsRead,
          "driver_ms" -> g.driverMs(o.startMs, o.endMs)))))
    }
    val spanLines = r.tracer.spans.filter(s => ids.contains(s.op)).map { s =>
      Json(Map("op" -> s.op, "span" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(Paths.get(path), (opLines ++ spanLines).asJava)
  }
}
