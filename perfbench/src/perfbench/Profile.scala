package perfbench

/** Per-layer figures of a traced run, from its spans, the Spark listener's
  * counters and the workload's own counts, and the profile artifact. */
object Profile {

  private val Mb = 1048576.0

  /** One operation's figures, keyed like the per-layer metrics. */
  private def perOp(op: Span, tree: Seq[Span], counters: SparkCounters,
                    sample: OpSample): Map[String, Double] = {
    val ids = tree.map(_.id).toSet
    val accs = ids.toSeq.flatMap(counters.counters)
    def sum(f: counters.Acc => Long): Double = accs.map(a => a.synchronized(f(a))).sum.toDouble
    val jobSpans = counters.jobs.filter(j => ids(j.span) && !j.endMs.isNaN)
      .map(j => (j.startMs, j.endMs))
    val busy = Spans.unionLength(Spans.clip(jobSpans, op.startMs, op.endMs))
    val named = tree.filter(_.id != op.id).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(_.durMs).sum
    }
    val spanMetrics = named.map { case (n, ms) =>
      if (n.startsWith("delta.") || n.startsWith("iceberg.")) s"${n}_ms" -> ms
      else s"${n}_s" -> ms / 1000
    }
    spanMetrics ++ Map(
      "op.wall_ms" -> sample.wallMs,
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks), "spark.failed_tasks" -> sum(_.failedTasks),
      "spark.task_ms" -> sum(_.taskMs), "spark.task_s" -> sum(_.taskMs) / 1000,
      "spark.gc_s" -> sum(_.gcMs) / 1000,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / Mb,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / Mb,
      "spark.spill_mb" -> sum(_.spill) / Mb,
      "spark.driver_gap_ms" -> (op.durMs - busy),
      "spark.driver_gap_s" -> (op.durMs - busy) / 1000,
      "io.bytes_read" -> sample.bytesRead.toDouble,
      "io.bytes_written" -> sample.bytesWritten.toDouble)
  }

  /** Operation spans of the traced loop, in order, with their subtrees. */
  private def opTrees(spans: Seq[Span]): Seq[(Span, Seq[Span])] = {
    val rootOf = Spans.roots(spans)
    val byRoot = spans.groupBy(s => rootOf(s.id))
    spans.filter(s => s.parent < 0 && s.name == "op").sortBy(_.startMs)
      .map(op => op -> byRoot.getOrElse(op.id, Seq(op)))
  }

  def layerMetrics(spans: Seq[Span], counters: SparkCounters, samples: Seq[OpSample],
                   extras: Map[Int, Map[String, Double]], cores: Int): Map[String, Double] = {
    val trees = opTrees(spans)
    require(trees.size == samples.size, s"${trees.size} operation spans for ${samples.size} operations")
    val ok = trees.zip(samples).filter(_._2.ok)
    val rows = ok.map { case ((op, tree), s) =>
      perOp(op, tree, counters, s) ++ extras.getOrElse(s.index, Map.empty)
    }
    val keys = rows.flatMap(_.keys).distinct
    // counts the workload derives from its outputs repeat exactly per seed:
    // report the first operation's; everything else as a median per operation
    val perOpMetrics = keys.map { k =>
      val vs = rows.flatMap(_.get(k))
      k -> (if (k.startsWith("ops.") || k.startsWith("curation.") && !k.endsWith("_s")) vs.head
            else Stats.median(vs))
    }.toMap
    def total(k: String) = rows.flatMap(_.get(k)).sum
    val wall = total("op.wall_ms")
    val walls = ok.map(_._2.wallMs)
    val defaults = Main.PerLayer.map(_.name -> 0.0).toMap
    defaults ++ perOpMetrics.filter(kv => defaults.contains(kv._1)) ++ Map(
      "spark.parallelism" -> (if (wall > 0) total("spark.task_ms") / (wall * cores) else 0.0),
      "spark.driver_gap_frac" -> (if (wall > 0) total("spark.driver_gap_ms") / wall else 0.0),
      "loop.ops" -> samples.size.toDouble,
      "loop.error_frac" -> samples.count(!_.ok).toDouble / samples.size,
      "loop.op_wall_s" -> (if (walls.isEmpty) 0.0 else Stats.median(walls) / 1000))
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The profile artifact: every span with its self time, every job with
    * the span it ran under, every operation, the per-layer metrics and the
    * tracing overhead per operation (null when it is unknown). */
  def artifact(run: String, spans: Seq[Span], counters: SparkCounters, samples: Seq[OpSample],
               metrics: Map[String, Double], overheadS: Option[Double]): String = {
    val self = Spans.selfTimes(spans)
    val spanJson = spans.sortBy(_.id).map { s =>
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "run": ${q(s.run)}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "self_ms": ${self(s.id)}}"""
    }
    val jobJson = counters.jobs.map { j =>
      s"""{"id": ${j.id}, "span": ${j.span}, "start_ms": ${j.startMs}, "end_ms": ${Main.num(j.endMs)}}"""
    }
    val spanCounters = spans.sortBy(_.id).flatMap { s =>
      counters.counters(s.id).map { a =>
        a.synchronized {
          s"""{"span": ${s.id}, "jobs": ${a.jobs}, "stages": ${a.stages}, "tasks": ${a.tasks}, """ +
            s""""failed_tasks": ${a.failedTasks}, "task_ms": ${a.taskMs}, "gc_ms": ${a.gcMs}, """ +
            s""""shuffle_read_bytes": ${a.shuffleRead}, "shuffle_write_bytes": ${a.shuffleWrite}, """ +
            s""""spill_bytes": ${a.spill}}"""
        }
      }
    }
    val opJson = samples.map { s =>
      s"""{"index": ${s.index}, "kind": ${q(s.kind)}, "start_ms": ${s.startMs}, "wall_ms": ${s.wallMs}, """ +
        s""""ok": ${s.ok}, "error": ${s.error.map(q).getOrElse("null")}, "rows": ${s.rows}, """ +
        s""""bytes_written": ${s.bytesWritten}, "bytes_read": ${s.bytesRead}}"""
    }
    val metricJson = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${Main.num(v)}" }
    s"""{"run": ${q(run)},\n "metrics": {${metricJson.mkString(", ")}},\n""" +
      s""" "trace_overhead_s": ${overheadS.map(Main.num).getOrElse("null")},\n""" +
      s""" "ops": [\n  ${opJson.mkString(",\n  ")}],\n""" +
      s""" "spans": [\n  ${spanJson.mkString(",\n  ")}],\n""" +
      s""" "span_counters": [\n  ${spanCounters.mkString(",\n  ")}],\n""" +
      s""" "jobs": [\n  ${jobJson.mkString(",\n  ")}]}\n"""
  }
}
