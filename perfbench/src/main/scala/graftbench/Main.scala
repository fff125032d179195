package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: one Spark `local[cores]` session and one
  * client thread issuing the workload's ops in a closed loop. The first
  * pass is cold, the rest are warm; passes repeat until `--seconds` have
  * gone by, with at least three warm passes. Writes every measurement to `--out` as JSON;
  * `perfbench/run.py` launches it and prints the result.
  *
  * With `--trace 1`, passes alternate traced and untraced (the cold
  * pass is traced): traced passes split each op into spans and collect
  * listener counters per layer; the untraced ones give the tracing
  * overhead in the same process. */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, sf: String,
      work: String, out: String, cores: Int, expected: Option[String] = None,
      drops: Option[String] = None, spans: Option[String] = None, record: Boolean = false,
      dump: Option[String] = None, injectFaults: Boolean = false)

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (Set("record", "inject-faults")(k)) { flags += k; i += 1 }
      else { kv(k) = argv(i + 1); i += 2 }
    }
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("sf"), kv("work"), kv("out"), kv("cores").toInt, kv.get("expected"), kv.get("drops"),
      kv.get("spans"), flags("record"), kv.get("dump"), flags("inject-faults"))
  }

  def session(a: Args): SparkSession = {
    val spark = GraftSession.builder(a.cores.toString)
      .config("spark.graft.lake.root", s"${a.work}/graft-lake")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The warm-up read: the first scan loads the parquet reader and codegen. */
  def warmUp(spark: SparkSession, sf: String): Unit =
    spark.read.parquet(s"$sf/lineitem.parquet").write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, and how many samples lie above it. */
  private def percentile(xs: Seq[Double], p: Double): (Double, Int) = {
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p * s.size).toInt)
    (s(rank - 1), s.size - rank)
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  final case class Sample(pass: Int, op: String, wallS: Double, startNs: Long, endNs: Long,
                          traced: Boolean, stats: OpStats, segments: Seq[(String, Long, Long)])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    warmUp(spark, a.sf)

    val expected = mutable.Map.empty[String, String]
    a.expected.foreach { p =>
      Json.read(p).get("ops").fields().asScala.foreach(e => expected(e.getKey) = e.getValue.get("digest").asText)
    }
    val lakeIngest = a.workload match {
      case "lake_ingest" => Some(new LakeIngest(spark, a.sf, s"${a.work}/ingest", a.drops.get))
      case _ => None
    }
    lakeIngest.foreach(expected ++= _.expected)
    val workload: Workload = lakeIngest.getOrElse(a.workload match {
      case "sql_analyst" => new Workloads.Queries(spark, a.sf, Workloads.SqlAnalyst)
      case "corpus_ops" => new Workloads.Queries(spark, a.sf, Workloads.CorpusOps)
      case other => sys.error(s"unknown workload $other")
    })
    if (a.injectFaults) {
      // A wrong expected digest: the op runs fine but its output check fails.
      val first = workload.groups(0).flatMap(_.ops).map(_.name).find(expected.contains).get
      expected(first) = "0:0000000000000000"
    }

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val samples = mutable.ArrayBuffer.empty[Sample]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rows = mutable.Map.empty[String, Long]
    val lastFrames = mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
    val recorded = mutable.Map.empty[String, Map[String, Any]]
    val cached = mutable.Map.empty[Int, (Double, Int)]
    val passWall = mutable.Map.empty[Int, Double]
    var attempted = 0L

    val firstOpMs = System.currentTimeMillis()
    val setupS = (firstOpMs - jvmStartMs) / 1000.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    // At least three warm passes: the first warm pass runs while the JIT
    // still compiles what the cold pass ran, and is often the slowest, so
    // the median needs two more. After that, start a pass only if one
    // like the last fits in the time left.
    def another = pass < 4 || elapsed + passWall(pass - 1) <= a.seconds
    while (another) {
      val traced = tracer.isDefined && pass % 2 == 0
      if (traced) tracer.get.install()
      val rng = new scala.util.Random(a.seed * 1000003L + pass)
      val passStart = System.nanoTime()
      // Each group's ops in a seeded order; the group's check follows its last op.
      val order = workload.groups(pass).zipWithIndex.flatMap { case (g, gi) =>
        val extra = if (a.injectFaults && gi == 0) Seq(Workloads.Throwing) else Nil
        val shuffled = rng.shuffle(g.ops ++ extra)
        shuffled.zipWithIndex.map { case (op, i) => (op, if (i == shuffled.size - 1) Some(g) else None) }
      }
      order.foreach { case (op, groupDone) =>
        attempted += 1
        val ph = new Phases(traced)
        val stats = new OpStats
        tracer.filter(_ => traced).foreach(_.begin(stats))
        val s0 = System.nanoTime()
        val result = try Right(op.run(ph)) catch { case NonFatal(e) => Left(e) }
        val s1 = System.nanoTime()
        tracer.filter(_ => traced).foreach(_.end())
        val problems: Seq[String] = result match {
          case Left(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          case Right(Checked(p)) => p
          case Right(Frame(df)) => lastFrames(op.name) = df; Nil
        }
        if (problems.isEmpty)
          samples += Sample(pass, op.name, (s1 - s0) / 1e9, s0, s1, traced, stats, ph.segments.toSeq)
        else failures += Map("pass" -> pass, "op" -> op.name, "problems" -> problems)
        groupDone.foreach { g =>
          g.check().foreach(p => failures += Map("pass" -> pass, "op" -> "check", "problems" -> Seq(p)))
        }
      }
      passWall(pass) = (System.nanoTime() - passStart) / 1e9
      if (traced) {
        tracer.get.uninstall()
        val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
        cached(pass) = ((infos.map(i => i.memSize + i.diskSize).sum / 1048576.0), infos.length)
      }
      pass += 1
      if (another) lakeIngest.foreach(_.cleanup(pass - 1))
    }
    val peakRss = vmHwmMb()

    // Output checks, untimed, on the last pass's results. An op whose
    // output is wrong loses all its latency samples.
    lastFrames.toSeq.sortBy(_._1).foreach { case (name, df) =>
      val problems =
        try {
          val d = Digest.of(df)
          rows(name) = d.rows
          a.dump.foreach(dir => df.write.mode("overwrite").parquet(s"$dir/$name"))
          if (a.record) { recorded(name) = Map("digest" -> d.toString, "rows" -> d.rows); Nil }
          else expected.get(name) match {
            case Some(want) if want == d.toString => Nil
            case Some(want) => Seq(s"digest $d, expected $want")
            case None => Seq("no expected digest")
          }
        } catch { case NonFatal(e) => Seq(s"output check threw ${e.getMessage}") }
      if (problems.nonEmpty) {
        failures += Map("pass" -> (pass - 1), "op" -> name, "problems" -> problems)
        samples --= samples.filter(_.op == name)
      }
    }
    lakeIngest.foreach(_.cleanup(pass - 1))
    spark.stop()

    // ---- end-to-end metrics ----
    val byPass = samples.groupBy(_.pass)
    def passSum(p: Int, only: Option[Set[String]] = None): Double =
      byPass.getOrElse(p, Nil).filter(s => only.forall(_(s.op))).map(_.wallS).sum
    val warmPasses = (1 until pass).toSeq
    val untracedWarm = warmPasses.filter(p => tracer.isEmpty || p % 2 == 1)
    val tracedWarm = warmPasses.filter(p => tracer.isDefined && p % 2 == 0)
    val warmS = median(untracedWarm.map(passSum(_)))
    val warmOps = samples.filter(s => untracedWarm.contains(s.pass)).map(_.wallS).toSeq
    val (p90, above) = percentile(warmOps, 0.9)
    val (rowsPass, rowsOps) = workload.rowsPerPass(rows.toMap)
    val rowsPerS = rowsPass / median(untracedWarm.map(passSum(_, rowsOps)))
    val endToEnd = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "cold_s" -> passSum(0),
      "warm_s" -> warmS,
      "op_p50_s" -> median(warmOps),
      "op_p90_s" -> p90,
      "op_p90_samples" -> warmOps.size,
      "op_p90_samples_above" -> above,
      "peak_rss_mb" -> peakRss,
      "rows_per_s" -> rowsPerS,
      "op_fail_ratio" -> failures.size.toDouble / attempted)

    // ---- per-layer metrics (traced run) ----
    val layers = mutable.LinkedHashMap.empty[String, Any]
    tracer.foreach { tr =>
      val warmMedian = samples.filter(s => tracedWarm.contains(s.pass)).groupBy(_.op)
        .map { case (op, ss) => op -> median(ss.map(_.wallS).toSeq) }
      val perPass = tracedWarm.map(p => layerTotals(byPass.getOrElse(p, Nil).toSeq, tr, a.cores, passWall(p)) ++
        workload.notes.getOrElse(p, mutable.Map.empty) ++
        Map("cached_mb" -> cached(p)._1, "cached_rdds" -> cached(p)._2.toDouble))
      val keys = perPass.flatMap(_.keys).distinct
      keys.foreach(k => layers(k) = median(perPass.map(_.getOrElse(k, 0.0))))
      layers("first_touch_s") = byPass.getOrElse(0, Nil)
        .flatMap(s => warmMedian.get(s.op).map(s.wallS - _)).sum
      lakeIngest.foreach(li => layers("lake_bytes_per_input_byte") =
        median(tracedWarm.map(p => workload.notes(p)("lake_bytes"))) / li.xmlBytes)
      layers("traced_warm_s") = median(tracedWarm.map(passSum(_)))
      layers("trace_overhead_s") = layers("traced_warm_s").asInstanceOf[Double] - warmS
      a.spans.foreach(p => writeSpans(p, tr, samples.toSeq))
    }

    val perOp = samples.groupBy(_.op).map { case (op, ss) =>
      val warm = ss.filter(s => untracedWarm.contains(s.pass)).map(_.wallS).toSeq
      op -> Map("cold_s" -> ss.find(_.pass == 0).map(_.wallS), "warm_median_s" -> median(warm),
        "warm_samples" -> warm.size, "rows" -> rows.get(op))
    }
    val coverage = tracer.map(_ => opCoverage(samples.filter(_.traced).toSeq))
    writeOut(a.out, Map(
      "workload" -> a.workload, "seed" -> a.seed, "passes" -> pass, "elapsed_s" -> elapsed,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "end_to_end" -> endToEnd, "layers" -> layers, "ops" -> perOp,
      "op_layer_coverage" -> coverage.getOrElse(Map.empty),
      "warm_pass_s" -> untracedWarm.map(passSum(_)), "cold_pass_wall_s" -> passWall(0),
      "versions" -> Map("jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION)) ++
      (if (a.record) Map("recorded" -> recorded) else Map.empty))
    a.dump.foreach { dir =>
      writeOut(s"$dir/oracle_sql.json", SparkEntry.oracleSql)
      writeOut(s"$dir/row_bounds.json", SparkEntry.rowBoundSql)
    }
  }

  private val ExecSegments = Set("exec", "parse", "conform_validate", "write", "skip", "upsert", "compact")

  private def segSum(ss: Seq[Sample], names: String => Boolean): Double =
    ss.flatMap(_.segments).filter(x => names(x._1)).map(x => (x._3 - x._2) / 1e9).sum

  /** Per-layer totals over the ops of one traced pass. */
  private def layerTotals(ss: Seq[Sample], tr: Tracer, cores: Int, wall: Double): Map[String, Double] = {
    def sum(f: OpStats => Double) = ss.map(s => f(s.stats)).sum
    val MB = 1048576.0
    val covered = ss.map(s => Tracer.covered(s.stats.jobIntervals.toSeq,
      tr.epochUs(s.startNs) / 1000, tr.epochUs(s.endNs) / 1000) / 1000.0).sum
    val constructJobs = ss.map { s =>
      val spans = s.segments.filter(_._1 == "construct").map(x => (tr.epochUs(x._2) / 1000, tr.epochUs(x._3) / 1000))
      s.stats.jobIntervals.count { case (st, _) => spans.exists { case (lo, hi) => st >= lo && st <= hi } }
    }.sum
    val taskRun = sum(_.taskRunMs / 1000.0)
    Map(
      "construct_s" -> segSum(ss, _ == "construct"),
      "construct_jobs" -> constructJobs.toDouble,
      "plan_s" -> segSum(ss, _ == "plan"),
      "analysis_s" -> sum(_.analysisMs / 1000.0),
      "optimization_s" -> sum(_.optimizationMs / 1000.0),
      "planning_s" -> sum(_.planningMs / 1000.0),
      "exec_s" -> segSum(ss, ExecSegments),
      "jobs" -> sum(_.jobs.toDouble),
      "tasks" -> sum(_.tasks.toDouble),
      "job_wall_s" -> covered,
      "driver_gap_s" -> (ss.map(_.wallS).sum - covered),
      "task_run_s" -> taskRun,
      "task_cpu_s" -> sum(_.taskCpuNs / 1e9),
      "core_busy" -> taskRun / (wall * cores),
      "gc_s" -> sum(_.gcMs / 1000.0),
      "shuffle_read_mb" -> sum(_.shuffleReadBytes / MB),
      "shuffle_write_mb" -> sum(_.shuffleWriteBytes / MB),
      "spill_mb" -> sum(_.spillBytes / MB),
      "bytes_written_mb" -> sum(_.outputBytes / MB),
      "parse_s" -> segSum(ss, _ == "parse"),
      "conform_validate_s" -> segSum(ss, _ == "conform_validate"),
      "write_s" -> segSum(ss, _ == "write"),
      "skip_s" -> segSum(ss, _ == "skip"),
      "upsert_s" -> segSum(ss, _ == "upsert"),
      "compact_s" -> segSum(ss, _ == "compact"),
      "stream_batches" -> sum(_.batches.toDouble),
      "stream_add_batch_s" -> sum(_.addBatchMs / 1000.0),
      "stream_commit_s" -> sum(_.commitMs / 1000.0),
      "state_rows" -> sum(_.stateRows.values.sum.toDouble))
  }

  /** For each traced op: (construct + plan + exec) / wall, median over
    * its traced samples. */
  private def opCoverage(ss: Seq[Sample]): Map[String, Double] =
    ss.groupBy(_.op).map { case (op, xs) =>
      op -> median(xs.map(s => (segSum(Seq(s), _ == "construct") + segSum(Seq(s), _ == "plan") +
        segSum(Seq(s), ExecSegments)) / s.wallS))
    }

  private def writeSpans(path: String, tr: Tracer, ss: Seq[Sample]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try ss.filter(_.traced).foreach { s =>
      val id = s"${s.pass}/${s.op}"
      val spans = Span("op", tr.epochUs(s.startNs), tr.epochUs(s.endNs), s"pass${s.pass}", id) +:
        (s.segments.map { case (n, b, e) => Span(n, tr.epochUs(b), tr.epochUs(e), "op", id) } ++
          s.stats.jobIntervals.map { case (b, e) => Span("job", b * 1000, e * 1000, "op", id) })
      spans.foreach(sp => w.println(Json.render(Map("name" -> sp.name, "start_us" -> sp.startUs,
        "end_us" -> sp.endUs, "parent" -> sp.parent, "op" -> sp.op))))
    } finally w.close()
  }

  private def writeOut(path: String, v: Any): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(Json.render(v)) finally w.close()
  }
}
