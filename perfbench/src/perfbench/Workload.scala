package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What every workload gets: the session, the tracer, its own scratch
  * directory, the seed, and the book of output digests kept per seed. */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: String, seed: Long,
                     digests: DigestBook, cores: Int)

/** Set-up cost of one run: input generation, repeated (so that the median
  * is steady and the repeats prove the generator deterministic), and the
  * preparation of the state the operations start from. */
final case class SetupTimes(generateS: Seq[Double], prepareS: Double)

/** One benchmark workload. The closed loop calls [[prepare]] (untimed),
  * [[op]] (timed) and [[check]] (untimed; it throws when an output is
  * wrong) for consecutive operation indexes. */
trait Workload {
  /** Operations per round: a run measures whole rounds, so that every run
    * carries the same mix of work. */
  def round: Int = 1

  def setup(): SetupTimes
  def prepare(i: Int): Unit = ()
  def op(i: Int): OpInfo
  def check(i: Int): Unit

  /** Layer counts of the operation just run, for the traced run: counts
    * of work the layers did (rows out, files written, ...). */
  def opCounts(i: Int, sinceMs: Double): Map[String, Double]

  /** Checks of the final state, after the loop; throws when wrong. */
  def finish(): Unit = ()

  /** Figures of the final state, for the traced run. */
  def finalMetrics(): Map[String, Double] = Map.empty
}

/** Order-independent digests of output tables, kept per seed in a file next
  * to the results: a later run on the same seed must reproduce every digest
  * an earlier run recorded. Within a run, [[expect]] also holds a table to
  * the first digest it produced for a key. */
final class DigestBook(file: Path) {
  private val seen = mutable.LinkedHashMap.empty[String, String]
  if (Files.exists(file)) {
    Files.readAllLines(file, UTF_8).asScala.map(_.split("\t")).foreach {
      case Array(k, v) => seen(k) = v
      case _ =>
    }
  }

  def expect(key: String, digest: String): Unit = synchronized {
    seen.get(key) match {
      case Some(prev) if prev != digest =>
        throw new IllegalStateException(s"digest of $key changed: $prev -> $digest")
      case Some(_) =>
      case None => seen(key) = digest
    }
  }

  def save(): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, seen.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Util {

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def deleteRecursively(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
  }

  def copyFiles(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Files.list(Paths.get(from)).iterator().asScala.toSeq.sorted.foreach { f =>
      Files.copy(f, Paths.get(to).resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def files(dir: String): Seq[File] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(_.toFile).toSeq
  }

  /** Bytes of every file under `dir`. */
  def dirBytes(dir: String): Long = files(dir).map(_.length).sum

  /** Files under `dir` last modified at or after `sinceMs`. */
  def filesSince(dir: String, sinceMs: Double): Long =
    files(dir).count(_.lastModified >= sinceMs.toLong - 1).toLong

  /** SHA-256 over every file under `dir`, in path order. */
  def dirSha(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val root = Paths.get(dir)
    files(dir).map(f => root.relativize(f.toPath).toString -> f).sortBy(_._1).foreach {
      case (rel, f) =>
        md.update(rel.getBytes(UTF_8))
        md.update(Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Generate the same input `reps` times into fresh directories, check
    * that the copies are byte-identical, and keep the first. Returns each
    * generation's seconds. */
  def generateRepeated[T](reps: Int, dirOf: Int => String)(gen: String => T): (T, Seq[Double]) = {
    val runs = (0 until reps).map { k =>
      val d = dirOf(k)
      deleteRecursively(d)
      val (v, s) = timed(gen(d))
      (v, s, dirSha(d))
    }
    val shas = runs.map(_._3).distinct
    require(shas.size == 1, s"the generator is not deterministic: ${shas.mkString(",")}")
    (1 until reps).foreach(k => deleteRecursively(dirOf(k)))
    (runs.head._1, runs.map(_._2))
  }

  /** Row count and an order-independent content digest of `df`, one job. */
  def countAndDigest(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.columns.toSeq.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      bit_xor(xxhash64(cols: _*))).head()
    (r.getLong(0), s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}")
  }
}
