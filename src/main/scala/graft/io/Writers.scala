package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sinks (SURVEY.md §2.2).
  *
  * Two explicit modes:
  *   - `faithful`: reproduces the reference byte-for-byte-ish — including the
  *     `coalesce(1)` single-file CSV write (reference:
  *     Source_Raw_Dynamic.py:122) and whole-table overwrite.
  *   - `scale`: what you actually want at 100 TB — no single-partition
  *     funnel, date-partitioned parquet so readers get partition pruning,
  *     and no driver round-trip.
  */
object Writers {

  /** K1 faithful — single-file CSV with header, overwrite. The `coalesce(1)`
    * is a deliberate anti-scale choice the reference makes; kept only here. */
  def csvSingleFile(df: DataFrame, path: String): Unit =
    df.coalesce(1)
      .write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)

  /** K2 — parquet overwrite + session-catalog registration, the staging/mart
    * sink (reference: Raw_To_Staging.py:174-180, Patient_datamart.py:115).
    * Catalog = Spark session catalog (the Glue Catalog equivalent). */
  def parquetTable(df: DataFrame, path: String, table: String): Unit =
    df.write
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .saveAsTable(table)

  /** Plain parquet overwrite (no catalog). */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Bucketed table write: co-locates rows by join key at write time so
    * repeated joins/aggregations on `bucketCols` skip the shuffle entirely
    * (plans show zero Exchange between two tables bucketed the same way).
    * The 100 TB answer for a fact table joined on the same key every day.
    * Bucketed tables must go through the session catalog (`saveAsTable`). */
  def bucketedTable(df: DataFrame, path: String, table: String,
                    bucketCols: Seq[String], numBuckets: Int): Unit =
    df.write
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Scale-mode layer write: parquet partitioned by a load-date column so the
    * reference's driver-side "latest folder" probe becomes native partition
    * pruning (`filter($"load_date" === lit(d))` → PruneFileSourcePartitions). */
  def parquetPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Incremental partition refresh: overwrite ONLY the partitions present in
    * `df`, leave every other partition untouched (dynamic partition
    * overwrite). This is the idiomatic form of the reference's daily rerun —
    * instead of rewriting the whole table (or hand-managing `<date>/` folder
    * paths), a day's recompute replaces exactly that day's partition. At
    * 100 TB the difference is rewriting ~1/365th of the table vs all of it.
    * The mode is set per-write (session conf stays untouched). */
  def parquetRefreshPartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
