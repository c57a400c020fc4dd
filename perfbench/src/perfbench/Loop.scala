package perfbench

import org.apache.hadoop.fs.FileSystem

import scala.jdk.CollectionConverters._

/** What one operation reports about the work it did. `rows`: input rows it
  * carried to its output; `logicalBytes`: bytes of user data it wrote, the
  * base of write amplification; `kind`: the operation type. */
final case class OpInfo(rows: Long, logicalBytes: Long, kind: String = "op")

/** One attempted operation of the closed loop. A failed operation (it threw,
  * or its output check failed) keeps its wall time here for the record but
  * never enters the latency figures. */
final case class OpSample(index: Int, kind: String, startMs: Double, wallMs: Double,
                          ok: Boolean, error: Option[String], rows: Long,
                          logicalBytes: Long, bytesWritten: Long, bytesRead: Long) {
  def endMs: Double = startMs + wallMs
}

object Stats {

  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Hadoop `FileSystem` statistics of the local file system: bytes the
  * program read and wrote through Hadoop's file APIs. Shuffle and spill
  * files do not go through these APIs, so they count only table and
  * archive storage. */
object FsStats {
  final case class Snap(read: Long, written: Long)

  def snap(): Snap = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Snap(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** A closed loop with one client: the next operation starts only after the
  * previous one has finished and been checked. It runs whole rounds of
  * `round` operations until the timed operations have taken `seconds` in
  * total. Operations are numbered from 1. */
object ClosedLoop {

  def run(seconds: Double, round: Int, tracer: Tracer,
          prepare: Int => Unit, op: Int => OpInfo, check: Int => Unit,
          after: (Int, OpSample) => Unit = (_, _) => ()): Seq[OpSample] = {
    val out = Seq.newBuilder[OpSample]
    var timedMs = 0.0
    var n = 0
    while (n == 0 || timedMs < seconds * 1000 || n % round != 0) {
      val i = n + 1
      prepare(i)
      val fs0 = FsStats.snap()
      val t0 = tracer.nowMs
      val res = try Right(tracer.span("op")(op(i))) catch { case e: Throwable => Left(e) }
      val wall = tracer.nowMs - t0
      val fs1 = FsStats.snap()
      val checked = res.flatMap { info =>
        try { check(i); Right(info) } catch { case e: Throwable => Left(e) }
      }
      val info = res.getOrElse(OpInfo(0, 0))
      val sample = OpSample(i, info.kind, t0, wall, checked.isRight,
        checked.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"),
        info.rows, info.logicalBytes, fs1.written - fs0.written, fs1.read - fs0.read)
      after(i, sample)
      out += sample
      timedMs += wall
      n += 1
    }
    out.result()
  }
}
