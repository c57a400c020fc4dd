package graft.ops

import graft.pipeline.{Clock, Par, SystemClock}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's patient star schema, re-expressed through graft ops
  * (reference: Glue_Scripts/Patient_datamart.py:117-230 — specs cited per
  * dim below; implementation is graft's Scd2/StarSchema, not a port).
  *
  * Six SCD2 dimensions + `fact_patient`. Key/hash column choices follow the
  * reference exactly, including its quirks (dim_location hashes its own
  * keys, so every location change is a new key rather than a new version;
  * the fact's payer lookup picks an arbitrary survivor per patient —
  * deterministic mode replaces that with an ordered pick for testability).
  */
object PatientDatamart {

  /** One dimension: staging source table + projection + SCD2 spec. */
  final case class MartDim(source: String, spec: StarSchema.DimSpec)

  /** Dim specs per Patient_datamart.py:117-184. */
  val dims: Seq[MartDim] = Seq(
    MartDim("patients", StarSchema.DimSpec("dim_location",
      Seq("address" -> "address", "city" -> "city", "state" -> "state", "zip" -> "zip_code"),
      Scd2.Scd2Spec(Seq("address", "city", "state", "zip_code"),
        Seq("address", "city", "state", "zip_code"), "location_sk", "dim_location"))),
    MartDim("payers", StarSchema.DimSpec("dim_payer",
      Seq("id" -> "payer_id", "name" -> "name", "ownership" -> "ownership"),
      Scd2.Scd2Spec(Seq("payer_id"), Seq("name", "ownership"), "payer_sk", "dim_payer"))),
    MartDim("allergies", StarSchema.DimSpec("dim_allergies",
      Seq("start" -> "start", "stop" -> "stop", "patient" -> "patient",
        "description" -> "description", "type" -> "type", "category" -> "category"),
      Scd2.Scd2Spec(Seq("patient", "description", "start"),
        Seq("start", "stop", "description", "type", "category"), "allergy_sk", "dim_allergies"))),
    MartDim("patients", StarSchema.DimSpec("dim_patient",
      Seq("id" -> "patient_id", "concat_ws(' ', first, middle, last)" -> "name",
        "gender" -> "gender", "birthdate" -> "birthdate", "race" -> "race",
        "ethnicity" -> "ethnicity"),
      Scd2.Scd2Spec(Seq("patient_id"),
        Seq("name", "gender", "birthdate", "race", "ethnicity"), "patient_sk", "dim_patient"))),
    MartDim("medications", StarSchema.DimSpec("dim_medication",
      Seq("start" -> "start", "stop" -> "stop", "patient" -> "patient",
        "description" -> "description"),
      Scd2.Scd2Spec(Seq("patient", "start", "description"),
        Seq("start", "stop", "description"), "med_sk", "dim_medication"))),
    MartDim("observations", StarSchema.DimSpec("dim_observation",
      Seq("date" -> "date", "patient" -> "patient", "encounter" -> "encounter",
        "category" -> "category", "description_part1" -> "description_part1",
        "value_part1" -> "value_part1", "description_part2" -> "description_part2",
        "value_part2" -> "value_part2"),
      Scd2.Scd2Spec(Seq("patient", "date", "encounter", "description_part1"),
        Seq("category", "value_part1", "description_part2", "value_part2"),
        "obs_sk", "dim_observation")))
  )

  /** The reference's dim_observation consumes `_part1` and `_part2` columns that
    * exist ONLY if the staging or-split fired for that column (the cross-job
    * schema contract trap documented in SURVEY §2.11 — the reference crashes
    * on data with no " or " values). We synthesize the missing columns the
    * way the cleaner would have: part1 = the whole value, part2 = "None"
    * (split of a non-matching value → item0 = full string, item1 = null →
    * fillna "None"). */
  private def ensurePartColumns(df: DataFrame, base: String): DataFrame =
    if (df.columns.contains(s"${base}_part1")) df
    else df
      .withColumn(s"${base}_part1", col(base))
      .withColumn(s"${base}_part2", lit("None"))

  /** Build all six dims. `staging(table)` loads a cleaned staging table;
    * `existing(dimName)` loads the current dim if any. Returns dimName →
    * merged dim. The dims are planned on a pool: each plan's reads and the
    * merge's emptiness probe are small driver-bound jobs, overlapped across
    * dims, so both loaders must be thread-safe. */
  def buildDims(
      staging: String => DataFrame,
      existing: String => Option[DataFrame],
      clock: Clock = SystemClock,
      faithful: Boolean = true
  ): Map[String, DataFrame] =
    Par.map(dims) { d =>
      val src = staging(d.source)
      val prepared =
        if (d.spec.name == "dim_observation")
          ensurePartColumns(ensurePartColumns(src, "description"), "value")
        else src
      d.spec.name -> StarSchema.buildDim(prepared, existing(d.spec.name),
        d.spec, clock, faithful)
    }.toMap

  /** fact_patient (reference: Patient_datamart.py:189-230): patients ⟕
    * dim_location on the 4-way location condition → location_sk; ⟕ per-
    * patient encounter/condition counts; ⟕ one payer per patient; measures
    * null-filled with 0; audit timestamps. The aggregated/deduped sides are
    * tiny relative to patients → Catalyst broadcasts them (star join).
    *
    * `deterministic`: the reference's payer pick is dropDuplicates-arbitrary;
    * deterministic mode orders by (payer) so tests/oracles can pin it. */
  def buildFact(
      patients: DataFrame,
      encounters: DataFrame,
      conditions: DataFrame,
      payerTransitions: DataFrame,
      dimLocation: DataFrame,
      clock: Clock = SystemClock,
      deterministic: Boolean = true
  ): DataFrame = {
    val encCounts = StarSchema.countMeasure(encounters, "patient", "total_encounters")
    val condCounts = StarSchema.countMeasure(conditions, "patient", "total_conditions")
    val payerPick = {
      val base = payerTransitions.select(col("patient"), col("payer")).na.drop()
      // sort-free deterministic pick: arg_min by payer (hash aggregate, not
      // Sort+Window — see StarSchema.dedupKeyedAgg)
      if (deterministic)
        StarSchema.dedupKeyedAgg(base, Seq("patient"), Seq(col("payer")), latest = false)
      else base.dropDuplicates("patient")
    }

    val locationKey = patients.select(col("id").as("patient_id"),
      col("address"), col("city"), col("state"), col("zip"))
    val dimLocKeyed = dimLocation.select(col("location_sk"),
      col("address").as("l_address"), col("city").as("l_city"),
      col("state").as("l_state"), col("zip_code"))
    val factBase = locationKey.join(broadcast(dimLocKeyed),
        col("address") === col("l_address") && col("city") === col("l_city") &&
          col("state") === col("l_state") && col("zip") === col("zip_code"),
        "left")
      .select(col("patient_id"), col("location_sk"))

    factBase
      .join(broadcast(encCounts), col("patient_id") === encCounts("patient"), "left")
      .join(broadcast(condCounts), col("patient_id") === condCounts("patient"), "left")
      .join(broadcast(payerPick), col("patient_id") === payerPick("patient"), "left")
      .select(col("patient_id"), col("total_encounters"), col("total_conditions"),
        col("payer").as("payer_id"), col("location_sk"))
      .na.fill(0, Seq("total_encounters", "total_conditions"))
      .withColumn("created_at", clock.now)
      .withColumn("modified_at", clock.now)
  }

  /** Full mart build from a staging loader; returns dims + fact keyed by
    * table name. Active-slice of dim_location feeds the fact lookup (the
    * reference reads the freshly overwritten dim back — same content). */
  def build(
      staging: String => DataFrame,
      existing: String => Option[DataFrame],
      clock: Clock = SystemClock,
      faithful: Boolean = true,
      deterministic: Boolean = true
  ): Map[String, DataFrame] = {
    val dimTables = buildDims(staging, existing, clock, faithful)
    val fact = buildFact(
      staging("patients"), staging("encounters"), staging("conditions"),
      staging("payer_transitions"),
      dimTables("dim_location").filter(col("is_active") === true),
      clock, deterministic)
    dimTables + ("fact_patient" -> fact)
  }
}
