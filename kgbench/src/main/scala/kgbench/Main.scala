package kgbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, one local[nproc] session, one workload run as
  * a closed loop of back-to-back pipeline iterations.
  *
  * Order of a run: set-up (session start and input generation) `Setups`
  * times, the workload's reference result (untimed), the cold iteration
  * (the first in the session), the workload's unmeasured warm-up iterations, then
  * the measured warm iterations. Every iteration is checked. With
  * `--trace 1` the cold iteration and half of the measured ones are traced;
  * the others run untraced, so the tracing overhead is measured inside the
  * same run.
  *
  * Prints a full report line, then the result line last.
  */
object Main {
  private val Setups = 3
  // --seconds buys one measured iteration per NominalIterationS (about the
  // warm iteration time of kg_checkpointed on a 4-core host), at least
  // MinMeasured. The count, not a wall-clock window, ends the loop: the JIT
  // is still warming up over these iterations, so a faster commit that
  // fitted more of them into a window would report a lower median for that
  // reason alone.
  private val NominalIterationS = 6.0
  private val MinMeasured = 3
  // Spark's generated-code cache holds 100 classes by default; one
  // iteration of either workload compiles ~110-145, so with the default
  // every warm iteration evicts and recompiles all of them in turn (Janino
  // plus the JIT re-warming each new class), which roughly doubled a warm
  // dedup iteration on a 4-core host. The cold iteration compiles the same
  // classes either way.
  private val CodegenCacheEntries = 1000
  // no iteration starts after this many seconds, so the run ends inside the
  // 180-second budget of one benchmark invocation
  private val HardLimitS = 140.0

  val Layers: Seq[String] = Seq(
    "source", "entities", "mentions", "prepare", "blocking", "decide", "dup_edges",
    "components", "triples", "triples_write", "checkpoint_write", "checkpoint_read",
    "dedup_shingles", "dedup_exact", "dedup_lsh")

  /** Per-layer metric name -> unit: every layer's task-metric set, then the
    * counters (each next to its base) and the iteration-level figures. */
  val LayerMetrics: Seq[(String, String)] =
    Layers.flatMap(l => Seq(
      s"$l.wall_s" -> "s", s"$l.cpu_s" -> "s", s"$l.gc_s" -> "s", s"$l.shuffle_mb" -> "MB",
      s"$l.spill_mb" -> "MB", s"$l.tasks" -> "count", s"$l.busy" -> "ratio")) ++ Seq(
      "blocking.mentions" -> "count", "blocking.candidates_per_mention" -> "1/mention",
      "blocking.hot_keys" -> "count", "decide.decisions" -> "count",
      "decide.merge_share" -> "ratio", "dedup_exact.set_rows" -> "count",
      "dedup_exact.join_rows" -> "count", "dedup_lsh.candidates" -> "count",
      "dedup_lsh.yield" -> "ratio", "checkpoint.resume_s" -> "s",
      "iteration.wall_s" -> "s", "iteration.unattributed_s" -> "s",
      "iteration.cold_wall_s" -> "s", "iteration.cold_unattributed_s" -> "s",
      "iteration.cold_codegen_compiles" -> "count",
      "iteration.failed_tasks" -> "count", "storage.blocks_left" -> "count",
      "trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, launchMs: Long, tiny: Boolean, corrupt: Boolean)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), req("launch-ms").toLong, m.get("tiny").contains("1"), m.get("corrupt").contains("1"))
  }

  private def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def loadavg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble

  private def memTotalMb(): Long =
    Files.readAllLines(Paths.get("/proc/meminfo")).toArray.map(_.toString)
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it; below 20
    * samples no percentile has that many, and the maximum is reported:
    * (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 20) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  /** One iteration's record. */
  final case class Iter(index: Int, traced: Boolean, wallS: Double, costs: LayerCosts,
                        counters: Map[String, Double], resumeS: Double, load1m: Double,
                        blocksLeft: Long, codegenCompiles: Long, error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val origin = System.nanoTime()
    val jvmStartS = (System.currentTimeMillis() - a.launchMs) / 1e3
    val workload = Workloads(a.workload, a.tiny)
    val work = Paths.get(a.work).toAbsolutePath
    deleteTree(work.resolve("inputs"))
    deleteTree(work.resolve("iteration"))

    // set-up, Setups times: a fresh session and freshly generated inputs
    var spark: SparkSession = null
    val setupS = mutable.Buffer[Double]()
    var sizes = Map.empty[String, Long]
    var files: InputFiles = null
    for (k <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work.toString)
      files = InputFiles(work.resolve(s"inputs/$k").toString)
      sizes = Inputs.generate(spark, workload.shape, a.seed, files)
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[kgbench] set-up $k%d ${setupS.last}%.2f s")
    }
    spark.sparkContext.setLogLevel("WARN")
    val tRef = System.nanoTime()
    workload.reference(spark, files)
    System.err.println(f"[kgbench] reference ${(System.nanoTime() - tRef) / 1e9}%.2f s")

    val tracer = new Tracer(spark, origin)
    val iters = mutable.Buffer[Iter]()
    var firstDigest: Option[String] = None
    var items = 0L
    val iterDir = work.resolve("iteration") // checkpoints and sinks of one iteration

    def iteration(index: Int, traced: Boolean): Iter = {
      deleteTree(iterDir)
      val load = loadavg()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      tracer.begin(s"it$index", traced)
      val t0 = System.nanoTime()
      val out =
        try Right(workload.iterate(spark, tracer, files, iterDir.toString))
        catch { case e: Exception => Left(e) }
      val t1 = System.nanoTime()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      tracer.iterationSpan(t0, t1)
      val costs = tracer.end()
      val (counters, resume, error) = out match {
        case Left(e) =>
          spark.catalog.clearCache()
          (Map.empty[String, Double], 0.0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        case Right(o) =>
          val err =
            try {
              val d = o.digest
              val c = if (index == 0) o.check(a.corrupt) else None
              if (firstDigest.isEmpty) { firstDigest = Some(d); items = o.items }
              c.orElse(if (firstDigest.contains(d)) None
                else Some(s"digest $d != first iteration's ${firstDigest.get}"))
            } catch { case e: Exception => Some(s"check failed: ${e.getMessage}") }
          val counters = if (traced) o.counters else Map.empty[String, Double]
          o.release()
          (counters, o.resumeS, err)
      }
      val left = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
      System.err.println(f"[kgbench] iteration $index%d ${(t1 - t0) / 1e9}%.2f s (" +
        costs.wallS.map { case (l, w) => f"$l $w%.2f" }.mkString(", ") + ")" +
        error.fold("")(" FAILED: " + _))
      Iter(index, traced, (t1 - t0) / 1e9, costs, counters, resume, load, left, compiles, error)
    }

    iters += iteration(0, a.trace)
    // the first warm iteration still runs well above the later ones (JIT
    // compilation of the paths the cold iteration loaded), so it is run,
    // checked and reported, but left out of the warm figures
    val warmUp = workload.warmUp
    for (_ <- 0 until warmUp) iters += iteration(iters.size, traced = false)
    // a traced run traces measured iterations 1, 2, 5, 6, ... (0-based), so
    // untraced and traced ones come in balanced pairs and a steady warm-up
    // trend cancels out of the overhead estimate
    val counted = math.max(MinMeasured, (a.seconds / NominalIterationS).toInt)
    val measured = if (a.trace) counted + counted % 2 else counted
    def elapsedS = jvmStartS + (System.nanoTime() - origin) / 1e9
    while (iters.size < 1 + warmUp + measured && elapsedS + 1.5 * iters.last.wallS < HardLimitS) {
      val j = iters.size - 1 - warmUp
      iters += iteration(iters.size, a.trace && (j % 4 == 1 || j % 4 == 2))
    }
    spark.sparkContext.setLogLevel("ERROR")

    val warm = iters.toSeq.drop(1 + warmUp)
    val records = sizes("records")
    val untraced = warm.filter(!_.traced).map(_.wallS)
    val failed = iters.count(_.error.isDefined)
    val runS = median(untraced)
    val (tailS, tailPct) = tail(untraced)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("run_s", runS, "s"),
        ("run_s_tail", tailS, "s"),
        ("cold_s", iters.head.wallS, "s"),
        ("setup_s", jvmStartS + median(setupS.toSeq), "s"),
        ("records_per_s", records / runS, "1/s"),
        ("peak_storage_mb", median(warm.map(_.costs.peakStorageBytes / 1e6)), "MB"))
      else layerMetrics(iters.toSeq, runS)
    val metricsJson = Json.obj(metrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*)

    val report = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "host" -> Json.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors, "mem_total_mb" -> memTotalMb(),
        "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString),
      "inputs" -> Json.obj(sizes.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*),
      "setup_s" -> setupS.toSeq, "jvm_start_s" -> jvmStartS,
      "iterations" -> iters.map(it => Json.obj(
        "index" -> it.index, "traced" -> it.traced, "wall_s" -> it.wallS,
        "warm_up" -> (it.index >= 1 && it.index <= warmUp), "load_1m" -> it.load1m,
        "resume_s" -> it.resumeS, "blocks_left" -> it.blocksLeft,
        "codegen_compiles" -> it.codegenCompiles, "error" -> it.error.orNull)).toSeq,
      "run_s_tail_percentile" -> tailPct, "run_s_samples" -> untraced.size,
      "resume_s" -> median(warm.filter(!_.traced).map(_.resumeS)),
      "error_rate" -> failed.toDouble / iters.size, "items" -> items, "records" -> records,
      "items_per_s" -> items / runS, "metrics" -> metricsJson)
    Files.createDirectories(work)
    val tag = s"${a.workload}-${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.writeString(work.resolve(s"report-$tag.json"), report.json)
    Files.writeString(work.resolve(s"spans-$tag.jsonl"), tracer.spans.map(s => Json.obj(
      "name" -> s.name, "parent" -> s.iteration, "start_ns" -> s.startNs, "end_ns" -> s.endNs).json)
      .mkString("", "\n", "\n"))
    spark.stop()

    println(Json.obj("report" -> report).json)
    println(Json.obj(
      "correct" -> (failed == 0), "attempted" -> iters.size, "failed" -> failed,
      "metrics" -> metricsJson).json)
  }

  /** Per-layer figures: medians over the traced warm iterations, except the
    * cold ones (from the traced cold iteration) and the overhead. */
  private def layerMetrics(iters: Seq[Iter], untracedRunS: Double): Seq[(String, Double, String)] = {
    val cold = iters.head
    val traced = iters.drop(1).filter(_.traced)
    val cores = Runtime.getRuntime.availableProcessors
    def unattributed(it: Iter) = it.wallS - it.costs.wallS.values.sum
    def perIter(it: Iter): Map[String, Double] = {
      val layers = Layers.flatMap { l =>
        val w = it.costs.wallS.getOrElse(l, 0.0)
        val t = it.costs.tasks.getOrElse(l, new TaskTotals)
        Seq(s"$l.wall_s" -> w, s"$l.cpu_s" -> t.cpuNs / 1e9, s"$l.gc_s" -> t.gcMs / 1e3,
          s"$l.shuffle_mb" -> t.shuffleBytes / 1e6, s"$l.spill_mb" -> t.spillBytes / 1e6,
          s"$l.tasks" -> t.tasks.toDouble,
          s"$l.busy" -> (if (w > 0) t.taskMs / 1e3 / (w * cores) else 0.0))
      }
      layers.toMap ++ it.counters ++ Map(
        "checkpoint.resume_s" -> it.resumeS,
        "iteration.wall_s" -> it.wallS, "iteration.unattributed_s" -> unattributed(it),
        "iteration.failed_tasks" -> it.costs.tasks.values.map(_.failed).sum.toDouble)
    }
    val rows = traced.map(perIter)
    val fixed = Map(
      "iteration.cold_wall_s" -> cold.wallS,
      "iteration.cold_unattributed_s" -> unattributed(cold),
      "iteration.cold_codegen_compiles" -> cold.codegenCompiles.toDouble,
      "storage.blocks_left" -> iters.map(_.blocksLeft).max.toDouble,
      "trace.overhead_s" -> (median(traced.map(_.wallS)) - untracedRunS))
    LayerMetrics.map { case (name, unit) =>
      (name, fixed.getOrElse(name, median(rows.map(_.getOrElse(name, 0.0)))), unit)
    }
  }
}

/** Minimal JSON writer for the report and result lines. */
object Json {
  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
