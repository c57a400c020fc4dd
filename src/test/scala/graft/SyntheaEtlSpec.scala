package graft

import graft.io.Readers
import graft.ops.PatientDatamart
import graft.pipeline.{Clock, FixedClock}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Full Synthea pipeline app: 8 mart-source fixture tables through all four
  * stages, then an incremental second run exercising the SCD2 merge against
  * the previously written dims. */
class SyntheaEtlSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def writeFixtures(landing: String, ownership: String): Unit = {
    Files.createDirectories(Paths.get(landing))
    def w(name: String, content: String): Unit =
      Files.writeString(Paths.get(s"$landing/$name.csv"), content)
    w("patients",
      """Id,BIRTHDATE,FIRST,MIDDLE,LAST,GENDER,RACE,ETHNICITY,ADDRESS,CITY,STATE,ZIP
        |p1,1980-01-02,Ann,Q,Lee,F,asian,nonhispanic,1 Main St,Boston,MA,02101
        |p2,1990-05-06,Bob,,Ray,M,white,hispanic,2 Elm St,Salem,MA,01970
        |""".stripMargin)
    w("payers", s"""Id,NAME,OWNERSHIP
                   |pay1,Acme Health,$ownership
                   |""".stripMargin)
    w("allergies",
      """START,STOP,PATIENT,DESCRIPTION,TYPE,CATEGORY
        |2020-01-01,2021-01-01,p1,Peanut allergy,allergy,food
        |""".stripMargin)
    w("medications",
      """START,STOP,PATIENT,DESCRIPTION
        |2020-02-01,2020-03-01,p1,Aspirin
        |""".stripMargin)
    w("observations",
      """DATE,PATIENT,ENCOUNTER,CATEGORY,DESCRIPTION,VALUE
        |2021-03-04T10:00:00Z,p1,e1,vital-signs,Systolic BP or Diastolic BP,120 or 80
        |""".stripMargin)
    w("encounters",
      """Id,PATIENT
        |e1,p1
        |e2,p1
        |e3,p2
        |""".stripMargin)
    w("conditions",
      """Id,PATIENT
        |c1,p1
        |""".stripMargin)
    w("payer_transitions",
      """PATIENT,PAYER
        |p1,pay1
        |""".stripMargin)
  }

  /** A fresh root loaded with day 1 (`ownership` for pay1). */
  private def dayOne(ownership: String = "PRIVATE"): String = {
    val root = Files.createTempDirectory("graft-synthea").toString
    writeFixtures(s"$root/datasource", ownership)
    SyntheaEtl.run(spark, s"$root/datasource", root, "2024-01-01",
      FixedClock("2024-01-01 00:00:00"))
    root
  }

  /** Day 2 on `root`: pay1's ownership flips to GOVERNMENT. */
  private def dayTwo(root: String, clock: Clock = FixedClock("2024-06-01 00:00:00")): Seq[String] = {
    writeFixtures(s"$root/datasource", "GOVERNMENT")
    SyntheaEtl.run(spark, s"$root/datasource", root, "2024-06-01", clock)
  }

  private def ownershipByActive(df: DataFrame): Map[Boolean, String] =
    df.collect().map(r => r.getAs[Boolean]("is_active") -> r.getAs[String]("ownership")).toMap

  test("four stages end-to-end + incremental SCD2 second run") {
    val root = Files.createTempDirectory("graft-synthea").toString
    val landing = s"$root/datasource"

    // run 1
    writeFixtures(landing, "PRIVATE")
    val ran1 = SyntheaEtl.run(spark, landing, root, "2024-01-01",
      FixedClock("2024-01-01 00:00:00"))
    assert(ran1 == Seq("ingest", "repair", "clean", "mart"))

    val dimPatient = Readers.parquet(spark, s"$root/mart/dim_patient")
    assert(dimPatient.count() == 2)
    assert(dimPatient.filter($"patient_id" === "p1").head().getAs[String]("name") == "Ann Q Lee")

    // observation or-split flowed through staging into the dim
    val dimObs = Readers.parquet(spark, s"$root/mart/dim_observation")
    val obs = dimObs.head()
    assert(obs.getAs[String]("description_part1") == "Systolic BP")
    assert(obs.getAs[String]("value_part2") == "80")

    val fact = Readers.parquet(spark, s"$root/mart/fact_patient")
      .collect().map(r => r.getAs[String]("patient_id") ->
        (r.getAs[Long]("total_encounters"), r.getAs[Long]("total_conditions"),
          r.getAs[String]("payer_id"), r.getAs[String]("location_sk"))).toMap
    assert(fact("p1")._1 == 2 && fact("p1")._2 == 1 && fact("p1")._3 == "pay1")
    assert(fact("p2") == (1L, 0L, null, fact("p2")._4))
    assert(fact("p1")._4 != null) // location lookup hit

    // run 2: payer ownership flips → dim_payer expires old version
    writeFixtures(landing, "GOVERNMENT")
    val ran2 = SyntheaEtl.run(spark, landing, root, "2024-06-01",
      FixedClock("2024-06-01 00:00:00"))
    assert(ran2 == Seq("ingest", "repair", "clean", "mart"))

    val dimPayer = Readers.parquet(spark, s"$root/mart/dim_payer").collect()
    assert(dimPayer.length == 2)
    val active = dimPayer.find(_.getAs[Boolean]("is_active")).get
    val expired = dimPayer.find(!_.getAs[Boolean]("is_active")).get
    assert(active.getAs[String]("ownership") == "GOVERNMENT")
    assert(expired.getAs[String]("ownership") == "PRIVATE")

    // unchanged dims pass through (idempotent second run)
    val dimMed = Readers.parquet(spark, s"$root/mart/dim_medication").collect()
    assert(dimMed.length == 1 && dimMed.head.getAs[Boolean]("is_active"))

    // only the live tables remain, and the catalog serves this root's rows
    val leftovers = new java.io.File(s"$root/mart").list().filter(_.startsWith("."))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    assert(ownershipByActive(spark.table("dim_payer")) ==
      Map(false -> "PRIVATE", true -> "GOVERNMENT"))
    assert(spark.table("fact_patient").count() == 2)

    // a run on another root re-points the same catalog entries
    val other = dayOne("SELF")
    assert(ownershipByActive(spark.table("dim_payer")) == Map(true -> "SELF"))
    Seq("dim_payer", "fact_patient").foreach { t =>
      val files = spark.table(t).inputFiles
      assert(files.nonEmpty && files.forall(_.contains(other)), s"$t: ${files.mkString(", ")}")
    }
  }

  test("publish recovery: a crash between the two renames loses no dim history") {
    val root = dayOne()
    // crash after `live -> .old_`, before `.tmp_ -> live`, with a staged
    // copy of another table left behind
    Files.move(Paths.get(s"$root/mart/dim_payer"), Paths.get(s"$root/mart/.old_dim_payer"))
    Files.createDirectories(Paths.get(s"$root/mart/.tmp_dim_patient"))
    Files.writeString(Paths.get(s"$root/mart/.tmp_dim_patient/part-stale.parquet"), "junk")
    assert(dayTwo(root) == Seq("ingest", "repair", "clean", "mart"))
    val dimPayer = Readers.parquet(spark, s"$root/mart/dim_payer")
    assert(dimPayer.count() == 2)
    assert(ownershipByActive(dimPayer) == Map(false -> "PRIVATE", true -> "GOVERNMENT"))
    assert(Readers.parquet(spark, s"$root/mart/dim_patient").count() == 2)
    assert(new java.io.File(s"$root/mart").list().forall(!_.startsWith(".")))
  }

  test("a failed mart write releases the cached dims and publishes nothing") {
    val root = dayOne()
    // the stamp of every changed row throws at write time: dim_payer's
    // merge (and the fact) fail, the unchanged dims write fine
    val broken = new Clock {
      def now: Column = raise_error(lit("clock unavailable")).cast("timestamp")
    }
    intercept[Exception](dayTwo(root, broken))
    val mart = (PatientDatamart.dims.map(_.spec.name) :+ "fact_patient")
      .map(t => t -> Readers.parquet(spark, s"$root/mart/$t")).toMap
    mart.foreach { case (t, df) =>
      assert(df.storageLevel == StorageLevel.NONE, s"$t is still cached")
    }
    assert(ownershipByActive(mart("dim_payer")) == Map(true -> "PRIVATE"))
  }

  test("18-table completeness barrier blocks the pipeline when enforced") {
    val root = Files.createTempDirectory("graft-synthea-bar").toString
    val landing = s"$root/datasource"
    writeFixtures(landing, "PRIVATE")
    val ran = SyntheaEtl.run(spark, landing, root, "2024-01-01",
      FixedClock("2024-01-01 00:00:00"), requireAll = true)
    assert(ran == Seq("ingest")) // repair's precondition fails with 8 of 18 tables
  }

  test("SyntheaBench fixture x N drives all 18 tables through all four stages") {
    val sec = graft.tools.SyntheaBench.run(spark, nPatients = 60)
    assert(sec > 0.0)
  }
}
