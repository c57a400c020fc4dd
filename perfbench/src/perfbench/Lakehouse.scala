package perfbench

import graft.io.{DeltaInterop, IcebergInterop, IcebergWrite}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable

final case class LRow(id: Long, grp: Int, score: Long, tag: String) {
  def bytes: Long = s"$id,$grp,$score,$tag\n".length.toLong
}

/** One generated table operation. `rows`: rows to append or upsert;
  * `keys`: existing keys to delete or update; `[lo, hi)`: the id range a
  * read filters on. */
final case class LakeOp(kind: String, rows: Seq[LRow] = Nil, keys: Seq[Long] = Nil,
                        lo: Long = 0, hi: Long = 0, stamp: Long = 0)

/** A Delta or Iceberg table driven only through the public `graft.io`
  * calls, next to an in-memory model that receives the same operations:
  * after every operation the table must hold exactly the model's rows. */
final class LakeTable(ctx: Ctx, val fmt: String, val dir: String) {
  import ctx.spark
  import spark.implicits._

  val model = mutable.TreeMap.empty[Long, LRow]
  var nextId = 0L
  /** Milliseconds the last operation spent in its `graft.io` call. */
  var lastCallMs = 0.0

  private def call[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try ctx.tracer.span(name)(body) finally lastCallMs = (System.nanoTime() - t0) / 1e6
  }

  private def df(rows: Seq[LRow]): DataFrame = rows.toDF().repartition(1)

  /** Seeds the table in two commits, of the even and the odd ids, so that
    * every file spans the whole key range and the files a key-driven
    * operation rewrites do not depend on the seed. A round's ten Delta
    * commits then end with an append at version 10: `writeDelta` writes a
    * checkpoint at versions that are multiples of 10, and the other commit
    * kinds never do, so the first round (and every odd one) has one
    * checkpoint. */
  def create(rows: Seq[LRow]): Unit = {
    Seq(0L, 1L).foreach { parity =>
      val d = rows.filter(_.id % 2 == parity).toDF().repartition(2)
      if (fmt == "delta") DeltaInterop.writeDelta(d, dir, Nil) else IcebergWrite.append(d, dir)
    }
    rows.foreach(r => model(r.id) = r)
    nextId = rows.map(_.id).max + 1
  }

  def read(pred: Column): Seq[LRow] = {
    val t = if (fmt == "delta") DeltaInterop.readDelta(spark, dir)
            else IcebergInterop.readIceberg(spark, dir)
    t.filter(pred).select("id", "grp", "score", "tag").as[LRow].collect().toSeq.sortBy(_.id)
  }

  /** Run `op`; returns the rows it carried. Throws when a returned count
    * disagrees with the model. */
  def run(op: LakeOp): Long = {
    val span = s"$fmt.${op.kind}"
    op.kind match {
      case "append" =>
        call(span) {
          if (fmt == "delta") DeltaInterop.writeDelta(df(op.rows), dir, Nil)
          else IcebergWrite.append(df(op.rows), dir)
        }
        op.rows.foreach(r => model(r.id) = r)
        op.rows.size
      case "merge" =>
        val inserts = op.rows.count(r => !model.contains(r.id)).toLong
        val inserted = call(span) {
          if (fmt == "delta") DeltaInterop.merge(spark, dir, df(op.rows), Seq("id"))._3
          else {
            val set = Seq("grp", "score", "tag").map(c => c -> col(s"s.$c")).toMap
            IcebergWrite.mergeInto(spark, dir, df(op.rows), Seq("id"),
              matched = Seq(DeltaInterop.MatchedClause(None, set)),
              notMatched = Some((None, set + ("id" -> col("s.id")))))._3
          }
        }
        require(inserted == inserts, s"$span inserted $inserted rows, expected $inserts")
        op.rows.foreach(r => model(r.id) = r)
        op.rows.size
      case "delete" =>
        val pred = col("id").isin(op.keys: _*)
        val deleted = call(span) {
          if (fmt == "delta") DeltaInterop.deleteWhereDV(spark, dir, pred)._3
          else IcebergWrite.deleteWhereDV(spark, dir, pred)._2
        }
        require(deleted == op.keys.size, s"$span deleted $deleted rows, expected ${op.keys.size}")
        op.keys.foreach(model.remove)
        op.keys.size
      case "update" =>
        val pred = col("id").isin(op.keys: _*)
        val set = Map("score" -> (col("score") + lit(op.stamp)), "tag" -> lit(s"u${op.stamp}"))
        val updated = call(span) {
          if (fmt == "delta") DeltaInterop.updateWhereDV(spark, dir, pred, set)._3
          else IcebergWrite.updateWhereDV(spark, dir, pred, set)._2
        }
        require(updated == op.keys.size, s"$span updated $updated rows, expected ${op.keys.size}")
        op.keys.foreach { k =>
          val r = model(k)
          model(k) = r.copy(score = r.score + op.stamp, tag = s"u${op.stamp}")
        }
        op.keys.size
      case "read" =>
        val got = call(span)(read(col("id") >= op.lo && col("id") < op.hi))
        val want = model.range(op.lo, op.hi).values.toSeq
        require(got == want, s"$span [${op.lo},${op.hi}) returned ${got.size} rows, model holds ${want.size}")
        got.size
    }
  }

  def checkAll(): Unit = {
    val got = read(lit(true))
    require(got == model.values.toSeq,
      s"$fmt table holds ${got.size} rows, model ${model.size}; first difference at " +
        got.zipAll(model.values.toSeq, null, null).find(p => p._1 != p._2))
  }

  /** Version of the newest checkpoint in the Delta log, in any of its
    * spellings (`<version>.checkpoint.*`); -1 when there is none. */
  def lastCheckpoint: Long = {
    import scala.jdk.CollectionConverters._
    val checkpoint = "([0-9]+)\\.checkpoint\\..*".r
    val names = Files.list(Paths.get(dir, "_delta_log"))
    try names.iterator().asScala.map(_.getFileName.toString)
      .collect { case checkpoint(v) => v.toLong }.maxOption.getOrElse(-1L)
    finally names.close()
  }

  def logFiles: Long = {
    val sub = if (fmt == "delta") "_delta_log" else "metadata"
    Files.list(Paths.get(dir, sub)).count()
  }

  def dataFilesLive: Long =
    if (fmt == "delta") DeltaInterop.state(spark, dir).files.size.toLong
    else IcebergInterop.filesTable(spark, dir).filter(col("content") === 0).count()

  def dataFilesTotal: Long = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(dir)).iterator().asScala.count { p =>
      val s = p.toString
      s.endsWith(".parquet") && !s.contains("_delta_log") && !s.contains("/metadata/")
    }.toLong
  }
}

/** Commits and reads on one Delta and one Iceberg table from a single
  * client: three filtered reads in every seven operations, the rest one
  * append, key upsert, deletion-vector delete and deletion-vector update;
  * keys favour recently written rows, and the format alternates. The
  * Delta table checkpoints once in a round of operations (see
  * [[LakeTable.create]]), a periodic commit-latency tail that the traced
  * run reports apart. No Synthea code runs here. */
final class LakehouseWorkload(ctx: Ctx, seedRows: Int) extends Workload {
  import ctx.spark

  private val lake = s"${ctx.work}/lake"
  private val tables = Seq(new LakeTable(ctx, "delta", s"$lake/delta"),
    new LakeTable(ctx, "iceberg", s"$lake/iceberg"))
  private var pending: (LakeTable, LakeOp) = _
  private var checkpointBefore = -1L

  /** Five cycles of the seven kinds: ten commits on each table, and the
    * same mix in every run. */
  override def round: Int = 5 * LakehouseWorkload.Cycle.size

  private def rowsFor(r: SplittableRandom, ids: Seq[Long]): Seq[LRow] =
    ids.map(id => LRow(id, r.nextInt(16), r.nextLong(1000000000L), s"t${r.nextInt(1000)}"))

  /** Up to `n` distinct existing keys, drawn with an exponential bias
    * towards the newest. */
  private def recentKeys(r: SplittableRandom, t: LakeTable, n: Int): Seq[Long] = {
    val keys = mutable.LinkedHashSet.empty[Long]
    var tries = 0
    while (keys.size < n && tries < 50 * n) {
      val back = (-math.log(1 - r.nextDouble()) * 2000).toLong
      t.model.maxBefore(t.nextId - back).foreach(kv => keys += kv._1)
      tries += 1
    }
    keys.toSeq
  }

  /** The `i`th operation of this seed, given the tables' current state. Its
    * kind follows a fixed cycle, so every run carries the same mix; keys,
    * values and ranges come from the seed. */
  def opFor(i: Int, t: LakeTable): LakeOp = {
    val r = new SplittableRandom(ctx.seed * 0x9E3779B97F4A7C15L + 7919L * i)
    LakehouseWorkload.Cycle((i - 1) % LakehouseWorkload.Cycle.size) match {
      case "read" =>
        val lo = math.max(0L, t.nextId - (-math.log(1 - r.nextDouble()) * 3000).toLong - 1000)
        LakeOp("read", lo = lo, hi = lo + 1000)
      case "append" =>
        val ids = t.nextId until t.nextId + 500
        t.nextId += 500
        LakeOp("append", rows = rowsFor(r, ids))
      case "merge" =>
        val old = recentKeys(r, t, 100)
        val fresh = t.nextId until t.nextId + 100
        t.nextId += 100
        LakeOp("merge", rows = rowsFor(r, old ++ fresh))
      case "delete" => LakeOp("delete", keys = recentKeys(r, t, 50))
      case "update" => LakeOp("update", keys = recentKeys(r, t, 50), stamp = i.toLong)
    }
  }

  private def seedRowsOf(seed: Long, fmt: Int): Seq[LRow] =
    rowsFor(new SplittableRandom(seed * 31 + fmt), 0L until seedRows)

  def setup(): SetupTimes = {
    // the seeded table contents are the input: generate them, as a file,
    // once per repeat (byte-identical across repeats)
    val (_, genS) = Util.generateRepeated(3, k => s"${ctx.work}/gen$k") { d =>
      Files.createDirectories(Paths.get(d))
      Seq(0, 1).foreach { f =>
        val text = seedRowsOf(ctx.seed, f).map(r => s"${r.id},${r.grp},${r.score},${r.tag}\n").mkString
        Files.write(Paths.get(d, s"seed$f.csv"), text.getBytes(UTF_8))
      }
    }
    val (_, warmS) = Util.timed {
      Util.deleteRecursively(lake)
      tables.zipWithIndex.foreach { case (t, f) => t.create(seedRowsOf(ctx.seed, f)) }
      // warm-up on scratch tables: every operation kind once per format
      val warm = Seq(new LakeTable(ctx, "delta", s"$lake/warm-delta"),
        new LakeTable(ctx, "iceberg", s"$lake/warm-iceberg"))
      warm.foreach { t =>
        t.create(seedRowsOf(ctx.seed + 1, 0).take(1000))
        val r = new SplittableRandom(ctx.seed)
        Seq("append", "merge", "delete", "update", "read").foreach { k =>
          val op = k match {
            case "append" => val ids = t.nextId until t.nextId + 500; t.nextId += 500
              LakeOp(k, rows = rowsFor(r, ids))
            case "merge" => LakeOp(k, rows = rowsFor(r, recentKeys(r, t, 100)))
            case "read" => LakeOp(k, lo = t.nextId - 1000, hi = t.nextId)
            case _ => LakeOp(k, keys = recentKeys(r, t, 50), stamp = 1)
          }
          t.run(op)
        }
        t.checkAll()
        Util.deleteRecursively(t.dir)
      }
    }
    SetupTimes(genS, warmS)
  }

  override def prepare(i: Int): Unit = {
    val t = tables(i % 2)
    pending = (t, opFor(i, t))
    checkpointBefore = tables.head.lastCheckpoint
  }

  def op(i: Int): OpInfo = {
    val (t, o) = pending
    val rows = t.run(o)
    // user bytes written: the rows appended or upserted, and the updated
    // rows' new contents
    val written = o.rows.map(_.bytes).sum +
      (if (o.kind == "update") o.keys.map(k => t.model(k).bytes).sum else 0L)
    OpInfo(rows, written, s"${t.fmt}.${o.kind}")
  }

  def check(i: Int): Unit = ()

  /** Files written, and the latency of a Delta commit that also wrote a
    * checkpoint: the periodic tail that the per-kind medians hide. */
  def opCounts(i: Int, sinceMs: Double): Map[String, Double] = {
    val delta = tables.head
    Map("io.files_written" -> Util.filesSince(lake, sinceMs).toDouble) ++
      (if (delta.lastCheckpoint > checkpointBefore)
         Map("delta.checkpoint_commit_ms" -> delta.lastCallMs)
       else Map.empty)
  }

  override def finish(): Unit = tables.foreach(_.checkAll())

  /** Storage figures of the final state; space amplification rewrites the
    * live rows of both tables compactly, once, after timing. */
  override def finalMetrics(): Map[String, Double] = {
    val compact = s"${ctx.work}/compact"
    val stored = tables.map(t => Util.dirBytes(t.dir)).sum
    import spark.implicits._
    tables.foreach(t => t.read(lit(true)).toDF().coalesce(1)
      .write.mode("overwrite").parquet(s"$compact/${t.fmt}"))
    val live = Util.dirBytes(compact)
    tables.flatMap { t =>
      Seq(s"${t.fmt}.${if (t.fmt == "delta") "log_files" else "metadata_files"}" -> t.logFiles.toDouble,
        s"${t.fmt}.data_files_live" -> t.dataFilesLive.toDouble,
        s"${t.fmt}.data_files_total" -> t.dataFilesTotal.toDouble)
    }.toMap + ("lake.space_amp" -> stored.toDouble / live)
  }
}

object LakehouseWorkload {
  /** Seven kinds, an odd cycle: with the alternating format, each kind
    * runs on both tables in turn. */
  val Cycle: Seq[String] = Seq("read", "append", "merge", "read", "delete", "update", "read")
}
