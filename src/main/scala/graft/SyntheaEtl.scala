package graft

import graft.io.{FileCatalog, Mover, Readers, Writers}
import graft.model.SchemaJson
import graft.ops.{Cleaner, CsvRepair, PatientDatamart}
import graft.pipeline.{Clock, Par, Pipeline, Stage, SystemClock}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentLinkedQueue

/** The complete reference pipeline as one runnable app — a user of
  * syntheaetlproject/Synthea-ETL points this at their Synthea CSV export and
  * gets the same four stages (SURVEY.md §0): landing→source/archive move,
  * malformed-CSV repair, schema-driven clean to parquet + catalog, and the
  * SCD2 patient star schema.
  *
  * Layout mirrors the reference: `<root>/<layer>/<yyyy-MM-dd>/<table>/`,
  * optional external schemas at `<root>/schemas/<table>.json` (reference
  * format: `[{"name","type"}]`; absent → all-string, like the reference's
  * missing-schema fallback).
  *
  * Usage: `SyntheaEtl <landingDir> <root> [date]`.
  */
object SyntheaEtl {

  val ExpectedTables: Set[String] = Set(
    "allergies", "careplans", "claims", "claims_transactions", "conditions",
    "devices", "encounters", "imaging_studies", "immunizations", "medications",
    "observations", "organizations", "patients", "payer_transitions", "payers",
    "procedures", "providers", "supplies")

  private val MartSources = Set("patients", "payers", "allergies", "medications",
    "observations", "encounters", "conditions", "payer_transitions")

  private val MartTables = PatientDatamart.dims.map(_.spec.name) :+ "fact_patient"

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")

  /** Undo a publish cut short between its two renames (live moved aside,
    * staged copy not yet in place) and drop a staged copy left by a failed
    * run. */
  private def recover(fs: FileSystem, mart: Path, t: String): Unit = {
    val live = new Path(mart, t)
    val old = new Path(mart, s".old_$t")
    if (fs.exists(old) && !fs.exists(live)) rename(fs, old, live)
    fs.delete(new Path(mart, s".tmp_$t"), true)
  }

  /** Swap the staged `.tmp_<t>` in for the live mart table by directory
    * rename, then point the catalog entry `t` at it (re-pointing an entry
    * registered for another root, as `saveAsTable` Overwrite would). The
    * schema is passed explicitly, so registration runs no inference job.
    *
    * On local and HDFS roots a rename moves no data, so each table's bytes
    * are written once per run. On object stores (S3A) a directory rename is
    * a server-side copy: the swap is neither atomic nor free there. */
  private def publish(spark: SparkSession, fs: FileSystem, mart: Path, t: String,
                      schema: StructType): Unit = {
    val live = new Path(mart, t)
    val old = new Path(mart, s".old_$t")
    fs.delete(old, true)
    if (fs.exists(live)) rename(fs, live, old)
    rename(fs, new Path(mart, s".tmp_$t"), live)
    fs.delete(old, true)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // nullable, as parquet reads every column back
    spark.catalog.createTable(t, "parquet",
      StructType(schema.map(_.copy(nullable = true))), Map("path" -> live.toString))
  }

  /** Declared schema resolution, most-specific first: a user-provided
    * `<root>/schemas/<table>.json` override (the reference's S3 schema
    * folder, Raw_To_Staging.py:72-76), then the packaged 18-table Synthea
    * dictionary (resources `graft/schemas/`, types per
    * Documentation/Tables_Description.xlsx), then empty = all-string, the
    * reference's missing-schema behavior. A standard Synthea export never
    * reaches the fallback: all 18 tables ship as resources. */
  def schemaFor(root: String, table: String): StructType = {
    val p = java.nio.file.Paths.get(s"$root/schemas/$table.json")
    if (java.nio.file.Files.exists(p)) SchemaJson.load(p.toString)
    else SchemaJson.loadResource(table)
      .getOrElse(new StructType()) // all-string fallback
  }

  /** Build the stage list for one run date. `requireAll`: enforce the
    * reference's 18-table completeness barrier before transforming. */
  def stages(landing: String, root: String, date: String, clock: Clock,
             requireAll: Boolean = false): Seq[Stage] = {
    val catalog = new FileCatalog(root)

    def tables: Seq[String] = catalog.listTables("source", date)

    Seq(
      Stage("ingest", _ => new Mover().ingestAll(landing, root, date)),
      // per-table bodies are independent (disjoint source/target dirs) —
      // they run on a bounded pool so the stage overlaps the per-job
      // fixed costs the reference's sequential Glue loop pays 18× over
      // (outputs byte-identical; see graft.pipeline.Par)
      Stage("repair", s => {
        Par.foreach(tables, 8) { t =>
          val files = catalog.listFiles(s"$root/source/$date/$t", ".csv")
          files.headOption.foreach { f =>
            CsvRepair.repair(s, Readers.text(s, f)).foreach { df =>
              Writers.csvSingleFile(df, s"$root/raw/$date/$t")
            }
          }
        }
      }, precondition = _ =>
        !requireAll || new Mover().isComplete(root, date, ExpectedTables)),
      Stage("clean", s => {
        Par.foreach(tables, 8) { t =>
          val raw = Readers.csv(s, s"$root/raw/$date/$t")
          val cleaned = Cleaner.clean(raw, schemaFor(root, t))
          Writers.parquetTable(
            Cleaner.withAuditColumns(cleaned, s"$root/raw/$date/$t", date),
            s"$root/staging/$date/$t", s"staging_$t")
        }
      }),
      Stage("mart", s => {
        val mart = new Path(s"$root/mart")
        val fs = mart.getFileSystem(s.sparkContext.hadoopConfiguration)
        MartTables.foreach(recover(fs, mart, _))
        // each source read once (a schema job each), all concurrently, and
        // shared by the dims and the fact
        val staging = Par.map(MartSources.toSeq, 8)(t =>
          t -> Readers.parquet(s, s"$root/staging/$date/$t")).toMap
        val loadedDims = new ConcurrentLinkedQueue[DataFrame]()
        // Hadoop FS check (not java.io.File) so the probe also works on
        // HDFS/S3A roots
        def existing(dim: String): Option[DataFrame] =
          Option.when(fs.exists(new Path(mart, dim))) {
            val df = Readers.parquet(s, s"$mart/$dim")
            loadedDims.add(df)
            df
          }
        try {
          // every table, first load or daily merge, is written once, to
          // `.tmp_<t>`, concurrently. The merges (and the fact, which
          // re-derives dim_location's) read the LIVE dims, so nothing is
          // published until every staged write has finished.
          val built = PatientDatamart.build(staging, existing, clock).toSeq
          Par.foreach(built, 8) { case (t, df) =>
            Writers.parquet(df, new Path(mart, s".tmp_$t").toString)
          }
          built.foreach { case (t, df) => publish(s, fs, mart, t, df.schema) }
        } finally {
          // the SCD2 merge caches each existing dim for its self-joins
          // (Scd2.faithful/idiomatic); published or failed, the run is done
          // with them — release them so long-lived sessions don't accumulate
          loadedDims.forEach(_.unpersist())
        }
      }, precondition = _ => MartSources.subsetOf(tables.toSet))
    )
  }

  def run(spark: SparkSession, landing: String, root: String, date: String,
          clock: Clock = SystemClock, requireAll: Boolean = false): Seq[String] =
    Pipeline(stages(landing, root, date, clock, requireAll)).run(spark)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SyntheaEtl <landingDir> <root> [date]")
    val date = if (args.length > 2) args(2)
               else java.time.LocalDate.now().toString
    val spark = GraftSession.get("synthea-etl")
    val ran = run(spark, args(0), args(1), date)
    println(s"[synthea-etl] stages run: ${ran.mkString(", ")}")
    spark.stop()
  }
}
