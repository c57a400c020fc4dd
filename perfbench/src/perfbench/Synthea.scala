package perfbench

import graft.SyntheaEtl
import graft.ops.PatientDatamart
import graft.pipeline.{FixedClock, Par, Pipeline}
import org.apache.spark.sql.functions._

import java.time.LocalDate

/** The reference's four-stage medallion pipeline (ingest, CSV repair,
  * schema-driven clean, SCD2 star-schema mart) on generated Synthea-shaped
  * exports. Each operation is one pipeline run: `SyntheaEtl.stages`, every
  * stage wrapped in a span named after it.
  *
  *  - backfill (`daily = false`): every operation is a first load of the
  *    same full export into a fresh root. Per-row work dominates; the SCD2
  *    merge is bypassed (first loads write the dims directly).
  *  - daily (`daily = true`): set-up loads a backfill; every operation then
  *    loads the next day's small delta and merges it into the existing mart,
  *    the SCD2 merge plus two-phase dimension write that first loads skip.
  *    Per-job fixed costs dominate. */
final class SyntheaWorkload(ctx: Ctx, daily: Boolean, nPatients: Int) extends Workload {
  import ctx.spark

  private val gen = new SyntheaGen(ctx.seed, nPatients)
  private val root = s"${ctx.work}/root"
  private val landing = s"$root/datasource"
  private val name = if (daily) "synthea_daily" else "synthea_backfill"
  private var backfill: Export = _
  private var current: Export = _
  private var last = Map.empty[String, Double]

  private def dateOf(day: Int): String = LocalDate.parse("2026-01-01").plusDays(day).toString
  private def clockOf(day: Int): String = s"${dateOf(day)} 00:00:00"
  private def dayOf(i: Int): Int = if (daily) i else 0

  def setup(): SetupTimes = {
    val (exp, genS) = Util.generateRepeated(3, k => s"${ctx.work}/gen$k") { d =>
      // a fresh generator per repeat: generation is stateful across days
      if (d.endsWith("gen0")) gen.backfill(d) else new SyntheaGen(ctx.seed, nPatients).backfill(d)
    }
    backfill = exp
    // no warm-up: each load is a batch job in a fresh JVM, as the
    // reference's daily Glue job is. Daily's first load (day 0) is the
    // state its days merge into, and part of set-up.
    val (_, loadS) = Util.timed(if (daily) { prepare(0); runPipeline(0); check(0) })
    SetupTimes(genS, loadS)
  }

  private def load(exp: Export): Unit = {
    Util.deleteRecursively(root)
    Util.copyFiles(exp.dir, landing)
    current = exp
  }

  override def prepare(i: Int): Unit =
    if (!daily || i == 0) load(backfill) else current = gen.day(i, landing)

  private def runPipeline(i: Int): Seq[String] = {
    val day = dayOf(i)
    val stages = SyntheaEtl.stages(landing, root, dateOf(day), FixedClock(clockOf(day)),
      requireAll = day == 0)
      .map(s => s.copy(run = (sp: org.apache.spark.sql.SparkSession) =>
        ctx.tracer.span(s"pipeline.${s.name}")(s.run(sp))))
    Pipeline(stages).run(spark)
  }

  def op(i: Int): OpInfo = {
    val ran = runPipeline(i)
    require(ran == Seq("ingest", "repair", "clean", "mart"), s"stages run: ${ran.mkString(",")}")
    OpInfo(current.lines, current.bytes, if (daily) "day" else "load")
  }

  /** Staging and mart counts against what the generator emitted, exactly
    * one active row per SCD2 key, and per-seed digests of the mart tables. */
  def check(i: Int): Unit = {
    val day = dayOf(i)
    val date = dateOf(day)
    val now = to_timestamp(lit(clockOf(day)))
    val exp = current
    val key = if (daily) s"$name/day$day" else s"$name/load"
    val staged = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    Par.foreach(exp.staged.keys.toSeq.sorted, 8) { t =>
      val n = spark.read.parquet(s"$root/staging/$date/$t").count()
      require(n == exp.staged(t), s"staging_$t has $n rows, generator emitted ${exp.staged(t)} distinct")
      staged.put(t, n)
    }
    val dims = PatientDatamart.dims.map(d => d.spec.name -> d.spec.scd2.keyCols).toMap
    val marts = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()
    Par.foreach((dims.keys.toSeq :+ "fact_patient").sorted, 8) { t =>
      val df = spark.read.parquet(s"$root/mart/$t")
      val (n, digest) = Util.countAndDigest(df)
      ctx.digests.expect(s"$key/$t", digest)
      if (t == "fact_patient")
        require(n == exp.factRows, s"fact_patient has $n rows, expected ${exp.factRows}")
      else {
        val want = exp.mart(t)
        val r = df.agg(
          sum(when(col("is_active") && col("created_at") === now, 1).otherwise(0)),
          sum(when(!col("is_active") && col("modified_at") === now, 1).otherwise(0))).head()
        val (added, expired) = (r.getLong(0), r.getLong(1))
        require(n == want.rows && added == want.added && expired == want.expired,
          s"$t: rows/added/expired = $n/$added/$expired, expected ${want.rows}/${want.added}/${want.expired}")
        val badKeys = df.groupBy(dims(t).map(col): _*)
          .agg(sum(when(col("is_active"), 1).otherwise(0)).as("active"))
          .filter(col("active") =!= 1).count()
        require(badKeys == 0, s"$t: $badKeys keys without exactly one active row")
        marts.put(t, (n, added, expired))
      }
    }
    import scala.jdk.CollectionConverters._
    val m = marts.asScala
    val cleanRows = staged.asScala.values.sum.toDouble
    last = Map(
      "ops.clean.rows_out" -> cleanRows,
      "ops.mart.dim_rows" -> m.values.map(_._1).sum.toDouble,
      "ops.mart.versions_added" -> m.values.map(_._2).sum.toDouble,
      "ops.mart.rows_expired" -> m.values.map(_._3).sum.toDouble,
      "ops.mart.fact_rows" -> exp.factRows.toDouble)
  }

  def opCounts(i: Int, sinceMs: Double): Map[String, Double] = {
    val date = dateOf(dayOf(i))
    val repaired = current.staged.keys.toSeq.map(t =>
      spark.read.option("header", "true").csv(s"$root/raw/$date/$t").count()).sum.toDouble
    last ++ Map(
      "ops.repair.rows_out" -> repaired,
      "ops.clean.dupes_dropped" -> (repaired - last("ops.clean.rows_out")),
      "io.files_written" -> Util.filesSince(root, sinceMs).toDouble)
  }
}
