package perfbench

import graft.tools.HostTelemetry

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable

/** The repository benchmark: one workload, one seed, one closed loop.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --results <results dir>
  * Main --selftest
  * }}}
  *
  * Untraced runs print the end-to-end metrics; traced runs (a tracer and a
  * Spark listener on) print the per-layer metrics and write the profile
  * artifact. The last line of stdout is the result object. */
object Main {

  val Workloads = Seq("synthea_backfill", "synthea_daily", "lakehouse_dml", "corpus_dedup")

  final case class Metric(name: String, unit: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"), Metric("op_p50_ms", "ms"), Metric("rows_per_s", "rows/s"),
    Metric("heap_after_gc_mb", "MiB"), Metric("write_amp", "ratio"))

  private val stageNames = Seq("ingest", "repair", "clean", "mart")
  private val lakeKinds = Seq("append", "merge", "delete", "update", "read")
  private val curationSteps = Seq("warc_roundtrip", "extract", "winnow", "minhash", "clusters")

  val PerLayer: Seq[Metric] =
    stageNames.map(s => Metric(s"pipeline.${s}_s", "s")) ++
    Seq(Metric("io.bytes_read", "bytes"), Metric("io.bytes_written", "bytes"),
      Metric("io.files_written", "count")) ++
    Seq("ops.repair.rows_out", "ops.clean.rows_out", "ops.clean.dupes_dropped",
      "ops.mart.dim_rows", "ops.mart.versions_added", "ops.mart.rows_expired",
      "ops.mart.fact_rows").map(Metric(_, "rows")) ++
    Seq(Metric("spark.jobs", "count"), Metric("spark.stages", "count"),
      Metric("spark.tasks", "count"), Metric("spark.task_s", "s"),
      Metric("spark.parallelism", "ratio"), Metric("spark.driver_gap_s", "s"),
      Metric("spark.driver_gap_frac", "ratio"), Metric("spark.shuffle_read_mb", "MiB"),
      Metric("spark.shuffle_write_mb", "MiB"), Metric("spark.spill_mb", "MiB"),
      Metric("spark.gc_s", "s"), Metric("spark.failed_tasks", "count"),
      Metric("spark.storage_mb", "MiB")) ++
    Seq("delta", "iceberg").flatMap(f => lakeKinds.map(k => Metric(s"$f.${k}_ms", "ms"))) ++
    Seq(Metric("delta.checkpoint_commit_ms", "ms"),
      Metric("delta.log_files", "count"), Metric("iceberg.metadata_files", "count"),
      Metric("delta.data_files_live", "count"), Metric("delta.data_files_total", "count"),
      Metric("iceberg.data_files_live", "count"), Metric("iceberg.data_files_total", "count"),
      Metric("lake.space_amp", "ratio")) ++
    curationSteps.map(s => Metric(s"curation.${s}_s", "s")) ++
    Seq(Metric("curation.pairs_per_doc", "ratio"), Metric("curation.survivor_ratio", "ratio"),
      Metric("host.steal_frac", "ratio"), Metric("host.busy_frac", "ratio"),
      Metric("loop.ops", "count"), Metric("loop.error_frac", "ratio"),
      Metric("loop.op_wall_s", "s"))

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

  def main(args: Array[String]): Unit = {
    if (args.contains("--selftest")) {
      SelfTest.run(full = true)
      println("""{"selftest": "passed"}""")
      return
    }
    val workload = arg(args, "workload").getOrElse(sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = arg(args, "seed").map(_.toLong).getOrElse(sys.error("--seed is required"))
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(sys.error("--seconds is required"))
    val trace = arg(args, "trace").contains("1")
    val work = arg(args, "work").getOrElse(sys.error("--work is required"))
    val results = arg(args, "results").getOrElse(sys.error("--results is required"))
    val build = arg(args, "build").getOrElse("unknown")

    // cheap self-tests run on every run: a broken harness must not report
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs $what")
    SelfTest.run(full = false)
    phase("self-tests done")

    val cores = Runtime.getRuntime.availableProcessors()
    val ((spark, _), sessionS) = Util.timed {
      val s = graft.GraftSession.builder("perfbench", s"local[$cores]", cores)
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      (s, s.range(1000).selectExpr("sum(id)").collect())
    }
    val runId = s"$workload-$seed-${if (trace) "trace" else "plain"}"
    val tracer = new Tracer(runId, enabled = false, spark.sparkContext)
    // the output digests depend on the seed and on the workload's size
    val (size, make): (String, Ctx => Workload) = workload match {
      case "synthea_backfill" => ("n8000", c => new SyntheaWorkload(c, daily = false, nPatients = 8000))
      case "synthea_daily" => ("n1000", c => new SyntheaWorkload(c, daily = true, nPatients = 1000))
      case "lakehouse_dml" => ("r10000", c => new LakehouseWorkload(c, seedRows = 10000))
      case "corpus_dedup" => ("d5000x2", c => new CorpusWorkload(c, baseDocs = 5000, copies = 2))
    }
    val digests = new DigestBook(Paths.get(results, "digests", s"$workload-$size-$seed.tsv"))
    val ctx = Ctx(spark, tracer, work, seed, digests, cores)
    val w = make(ctx)

    var failedExtra = 0
    val (metrics, samples, profile) = try {
      phase("session up")
      val st = w.setup()
      phase("setup done")
      val setupS = sessionS + Stats.median(st.generateS) + st.prepareS
      System.err.println(f"[perfbench] setup: session $sessionS%.2fs, generate " +
        st.generateS.map(s => f"$s%.2f").mkString("/") + f"s, prepare ${st.prepareS}%.2fs")
      if (!trace) {
        val ticks0 = HostTelemetry.cpuTicks()
        val samples = ClosedLoop.run(seconds, w.round, tracer, w.prepare, w.op, w.check, logOp)
        val ticks1 = HostTelemetry.cpuTicks()
        phase("loop done")
        val heap = heapAfterGcMb()
        failedExtra += finish(w)
        val ok = samples.filter(_.ok)
        val m = if (ok.isEmpty) Map.empty[String, Double] else Map(
          "setup_s" -> setupS,
          "op_p50_ms" -> Stats.median(ok.map(_.wallMs)),
          "rows_per_s" -> ok.map(_.rows).sum / (ok.map(_.wallMs).sum / 1000),
          "heap_after_gc_mb" -> heap,
          "write_amp" -> ok.map(_.bytesWritten).sum.toDouble / ok.map(_.logicalBytes).sum)
        (m ++ host(ticks0, ticks1), samples, None)
      } else {
        val counters = SparkCounters.register(spark.sparkContext)
        tracer.enabled = true
        val extras = mutable.Map.empty[Int, Map[String, Double]]
        val ticks0 = HostTelemetry.cpuTicks()
        val traced = ClosedLoop.run(seconds, w.round, tracer, w.prepare, w.op, w.check,
          after = (i, s) => {
            logOp(i, s)
            SparkCounters.drain(spark.sparkContext)
            extras(i) = w.opCounts(i, s.startMs) +
              ("spark.storage_mb" -> counters.takePeakStorageBytes() / 1048576.0)
          })
        val ticks1 = HostTelemetry.cpuTicks()
        tracer.enabled = false
        failedExtra += finish(w)
        val layer = Profile.layerMetrics(tracer.all, counters, traced, extras.toMap, cores) ++
          w.finalMetrics() ++ host(ticks0, ticks1)
        val overhead = tracingOverheadS(results, build, workload, size, seed, traced)
        System.err.println("[perfbench] tracing overhead: " + overhead.map(v => s"${num(v)} s per operation")
          .getOrElse("unavailable, no untraced run of this build and seed is logged"))
        (layer, traced, Some(Profile.artifact(runId, tracer.all, counters, traced, layer, overhead)))
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        failedExtra += 1
        (Map.empty[String, Double], Seq.empty[OpSample], None)
    }
    phase("measured")
    digests.save()
    spark.stop()
    phase("session stopped")

    val attempted = samples.size + failedExtra
    val failed = samples.count(!_.ok) + failedExtra
    val wanted = if (trace) PerLayer else EndToEnd
    val complete = wanted.forall(m => metrics.contains(m.name))
    val correct = failed == 0 && complete
    val out = wanted.filter(m => metrics.contains(m.name)).map { m =>
      s""""${m.name}": {"value": ${num(metrics(m.name))}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    val line = s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, "failed": $failed, "metrics": $out}"""

    Files.createDirectories(Paths.get(results))
    val steal = metrics.get("host.steal_frac").map(num).getOrElse("null")
    Files.write(Paths.get(results, "runs.jsonl"),
      (s"""{"build": "$build", "workload": "$workload", "size": "$size", "seed": $seed, "trace": $trace, """ +
        s""""host_steal_frac": $steal, """ +
        s""""result": $line}""" + "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    profile.foreach { p =>
      val f = Paths.get(results, s"$workload-seed$seed-profile.json")
      Files.write(f, p.getBytes(UTF_8))
      System.err.println(s"[perfbench] profile: $f")
    }
    wanted.foreach { m =>
      metrics.get(m.name).foreach(v => System.err.println(f"[perfbench] ${m.name}%-28s ${num(v)} ${m.unit}"))
    }
    System.err.println(s"[perfbench] ops ${samples.size}, failed $failed, " +
      s"host steal ${steal}, busy ${metrics.get("host.busy_frac").map(num).getOrElse("null")}")
    println(line)
    if (!correct) System.exit(1)
  }

  /** Traced minus untraced wall time of one operation: the traced run's
    * median against the median `op_p50_ms` of the untraced runs of the
    * same build, workload, size and seed logged so far, so that both run
    * the same operations on the same inputs. None when there is no such
    * untraced run. */
  private def tracingOverheadS(results: String, build: String, workload: String, size: String,
                               seed: Long, traced: Seq[OpSample]): Option[Double] = {
    val log = Paths.get(results, "runs.jsonl")
    val ok = traced.filter(_.ok).map(_.wallMs)
    val p50 = "\"op_p50_ms\": \\{\"value\": ([0-9.eE+-]+)".r
    val key = s"""{"build": "$build", "workload": "$workload", "size": "$size", "seed": $seed, "trace": false,"""
    val plain = if (!Files.exists(log)) Nil else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(log, UTF_8).asScala.toSeq.filter(_.startsWith(key))
        .flatMap(l => p50.findFirstMatchIn(l).map(_.group(1).toDouble))
    }
    if (ok.isEmpty || plain.isEmpty) None else Some((Stats.median(ok) - Stats.median(plain)) / 1000)
  }

  private def logOp(i: Int, s: OpSample): Unit =
    System.err.println(f"[perfbench] op $i ${s.kind}: ${s.wallMs / 1000}%.3fs" +
      s.error.map(e => s", FAILED: $e").getOrElse(""))

  private def finish(w: Workload): Int =
    try { w.finish(); 0 }
    catch { case e: Throwable => System.err.println(s"[perfbench] final check failed: $e"); 1 }

  private def host(before: Map[String, Long], after: Map[String, Long]): Map[String, Double] = {
    def d(k: String) = math.max(0L, after.getOrElse(k, 0L) - before.getOrElse(k, 0L)).toDouble
    val total = Seq("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal").map(d).sum
    if (total <= 0) Map("host.steal_frac" -> 0.0, "host.busy_frac" -> 0.0)
    else Map("host.steal_frac" -> d("steal") / total,
      "host.busy_frac" -> (total - d("idle") - d("iowait")) / total)
  }

  /** Driver heap in use after a full collection, in MiB. Spark releases
    * cached blocks and broadcasts asynchronously, after a collection has
    * found them unreachable, so the heap is collected again once that
    * cleanup has had time to run. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
