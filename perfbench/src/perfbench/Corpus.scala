package perfbench

import graft.io.WarcReader
import graft.operators.{CorpusStats, Dedup, Extract}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

/** Seeded documents shaped like the sf0.1 `documents` table that the
  * repository's curation queries run on. Measured there (5000 rows; run
  * `perfbench/docstats.py` on that table and on a generated file to compare):
  * texts of 10 to 99 words, uniformly, each word drawn uniformly from one
  * 30-word vocabulary; 5% (250) near-duplicates, another document's text
  * plus the word `dup`, each of a different document, all but 4 of them of
  * an original (here all of them); 0.16% (8) exact copies of another
  * document; source `src<id mod 20>`. One document per line:
  * `doc_id<TAB>source<TAB>text`. [[html]] wraps a text in the page q223
  * builds from it before the WARC round trip. */
object CorpusGen {
  val NearDupShare = 0.05
  val ExactDupShare = 0.0016

  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  /** Writes `n` documents; returns how many are planted duplicates (near
    * or exact). */
  def write(seed: Long, n: Int, file: String): Int = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val texts = new Array[String](n)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    val undupped = scala.collection.mutable.ArrayBuffer.empty[Int] // no near-duplicate yet
    var planted = 0
    val sb = new java.lang.StringBuilder(n * 320)
    (0 until n).foreach { i =>
      val u = r.nextDouble()
      texts(i) =
        if (undupped.nonEmpty && u < NearDupShare) {
          planted += 1
          texts(undupped.remove(r.nextInt(undupped.size))) + " dup"
        } else if (originals.nonEmpty && u < NearDupShare + ExactDupShare) {
          planted += 1
          texts(originals(r.nextInt(originals.size)))
        } else {
          originals += i
          undupped += i
          (0 until 10 + r.nextInt(90)).map(_ => Vocab(r.nextInt(Vocab.size))).mkString(" ")
        }
      sb.append(i).append("\tsrc").append(i % 20).append('\t').append(texts(i)).append('\n')
    }
    Files.createDirectories(Paths.get(file).getParent)
    Files.write(Paths.get(file), sb.toString.getBytes(UTF_8))
    planted
  }

  /** The page q223 serves for a document: its words in paragraphs of 20
    * between navigation, heading, list, share bar, script, style, comment
    * and footer. */
  def html(id: Long, source: String, text: String): String = {
    val toks = text.trim.split("\\s+").toSeq
    Seq("<html>",
      s"<head><title>Doc $id | $source | graft</title><style>h1 { font-size: 2em; }</style></head>",
      "<body>",
      """<nav id="menu"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>""",
      s"<h1>Document $id from $source</h1>",
      s"""<p><b>${toks.head}</b> ${toks.slice(1, 20).mkString(" ")} <a href="/more">read more here</a></p>""",
      toks.grouped(20).drop(1).map(p => s"<p>${p.mkString(" ")}</p>").mkString("\n"),
      "<ul><li>first listed point in summary</li><li>another listed point for emphasis</li></ul>",
      """<div class="share" data-note="a>b"><a href="#t">Tweet this</a> <a href="#f">Share on FB</a> now</div>""",
      """<script>var x = 1 < 2; if (x) { document.write("<p>fake paragraph</p>"); }</script>""",
      "<style>.menu a { color: #333; }</style>",
      "<!-- build 2026 <p>ghost</p> -->",
      s"""<footer>Copyright &copy; 2026 $source &amp; partners &mdash; <a href="/tos">Terms of Service</a> <a href="/priv">Privacy</a></footer>""",
      "</body>", "</html>").mkString("\n")
  }
}

/** LLM-data curation on a seeded corpus replicated ×`copies` with shifted
  * ids (the shape of `ScaleSmoke.replicateInto`; every replica serves the
  * same page): each operation writes the documents as WARC records, reads
  * them back, extracts text, computes winnowing fingerprints, finds MinHash
  * near-duplicate pairs and their clusters. Each step's output is persisted
  * and counted inside its span, so the step's time is its own. Parallelism
  * and stragglers bound it; it makes no table commits. */
final class CorpusWorkload(ctx: Ctx, baseDocs: Int, copies: Int) extends Workload {
  import ctx.spark

  private val Stride = 10000000L
  private val dir = s"${ctx.work}/corpus"
  private var planted = 0
  private var docs: DataFrame = _
  private var docsDigest = ""
  private var htmlBytes = 0L
  private val nDocs = baseDocs.toLong * copies
  private var last = Map.empty[String, Double]
  private var clusters: DataFrame = _
  private var warcRead: DataFrame = _
  private var held = Seq.empty[DataFrame]

  def setup(): SetupTimes = {
    val (p, genS) = Util.generateRepeated(3, k => s"${ctx.work}/gen$k") { d =>
      CorpusGen.write(ctx.seed, baseDocs, s"$d/documents.tsv")
    }
    planted = p
    val (_, prepS) = Util.timed {
      val parts = split(col("value"), "\t", 3)
      val page = udf((id: Long, source: String, text: String) => CorpusGen.html(id, source, text))
      val base = spark.read.text(s"${ctx.work}/gen0/documents.tsv")
        .select(parts(0).cast("long").as("id"), parts(1).as("source"), parts(2).as("text"))
        .select(col("id"), page(col("id"), col("source"), col("text")).as("html"))
      base.crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
        .withColumn("id", col("id") + col("copy") * Stride)
        .select(col("id"), concat(lit("https://graft.test/doc/"), col("id")).as("uri"), col("html"))
        .repartition(ctx.cores * 2)
        .write.mode("overwrite").parquet(s"$dir/docs")
      docs = spark.read.parquet(s"$dir/docs")
      docsDigest = Util.countAndDigest(docs.select("uri", "html"))._2
      htmlBytes = docs.agg(sum(octet_length(col("html")))).head().getLong(0)
      // warm-up: one untimed pass over a tenth of the documents, so that the
      // timed pass measures the operators rather than JIT and code generation
      pass(docs.where(col("id") % Stride < baseDocs / 10), s"$dir/warm-warc")
      prepare(0)
    }
    SetupTimes(genS, prepS)
  }

  private def stage(name: String)(df: => DataFrame): DataFrame =
    ctx.tracer.span(s"curation.$name") {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      held :+= d
      d
    }

  override def prepare(i: Int): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held = Nil
  }

  /** One curation pass over `input`; returns the records read back, the
    * near-duplicate pairs and the clusters. */
  private def pass(input: DataFrame, warcDir: String): (DataFrame, DataFrame, DataFrame) = {
    val read = stage("warc_roundtrip") {
      WarcReader.toWarcRecords(input, "uri", "html").write.mode("overwrite").text(warcDir)
      WarcReader.responses(spark, warcDir)
        .select(col("target_uri").as("uri"), col("html"))
    }
    val withId = read.join(input.select("id", "uri"), "uri")
    val extracted = stage("extract")(Extract.extractText(withId, "html", "id")
      .select("id", "clean_text"))
    stage("winnow")(CorpusStats.winnowFingerprints(extracted, "id", "clean_text"))
    val pairs = stage("minhash")(Dedup.minhashNearDups(extracted, "clean_text", "id",
      threshold = 0.7).select("id_a", "id_b"))
    (read, pairs, stage("clusters")(Dedup.clusters(extracted.select("id"), pairs)))
  }

  def op(i: Int): OpInfo = {
    val (read, pairs, c) = pass(docs, s"$dir/warc")
    warcRead = read
    clusters = c
    last = Map("curation.pairs_per_doc" -> pairs.count().toDouble / nDocs)
    OpInfo(nDocs, htmlBytes, "pass")
  }

  /** WARC records read back equal those written, every document lands in
    * exactly one cluster, survivors are stable per seed. */
  def check(i: Int): Unit = {
    val readBack = Util.countAndDigest(warcRead)._2
    require(readBack == docsDigest, s"WARC read-back $readBack != written $docsDigest")
    val survivor = col("id") === col("cluster_id")
    val r = clusters.agg(count(lit(1)), countDistinct(col("id")),
      sum(when(survivor, 1L).otherwise(0L)),
      sum(when(survivor, xxhash64(col("id"))).otherwise(0L).cast("decimal(38,0)"))).head()
    require(r.getLong(0) == nDocs && r.getLong(1) == nDocs,
      s"clusters hold ${r.getLong(0)} rows over ${r.getLong(1)} ids for $nDocs documents")
    val survivors = r.getLong(2)
    // every replica group collapses; planted duplicates may merge too
    require(survivors <= baseDocs && survivors >= baseDocs - planted,
      s"$survivors survivors, expected between ${baseDocs - planted} and $baseDocs")
    ctx.digests.expect("corpus_dedup/survivors", s"$survivors:${r.get(3)}")
    last += ("curation.survivor_ratio" -> survivors.toDouble / nDocs)
  }

  def opCounts(i: Int, sinceMs: Double): Map[String, Double] =
    last + ("io.files_written" -> Util.filesSince(dir, sinceMs).toDouble)
}
