package perfbench

import graft.model.SchemaJson

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** A dimension after one load: its rows, the versions the load added and
  * the rows it expired. */
final case class DimDelta(rows: Long, added: Long, expired: Long)

/** What the mart must hold after a load, kept at the level of SCD2 keys:
  * per dimension, every key's current row-content value and how many rows
  * (active plus expired versions) the dimension holds for it. It follows
  * the merge rules of the reference datamart (graft.ops.Scd2.faithful): a
  * key whose content changed gains a version and keeps all its rows,
  * flipped inactive; every other key keeps only its active row. */
final class MartModel {
  private val dims = mutable.Map.empty[String, mutable.Map[String, (String, Int)]]

  /** Merge one load's distinct (key, content) inputs into `dim`. */
  def merge(dim: String, inputs: Iterable[(String, String)]): DimDelta = {
    val cur = dims.getOrElseUpdate(dim, mutable.Map.empty)
    var added = 0L
    var expired = 0L
    val next = mutable.Map.empty[String, (String, Int)]
    cur.foreach { case (k, (h, _)) => next(k) = (h, 1) }
    inputs.foreach { case (k, h) =>
      cur.get(k) match {
        case Some((oldH, _)) if oldH == h =>
        case Some((_, rows)) => expired += rows; added += 1; next(k) = (h, rows + 1)
        case None => added += 1; next(k) = (h, 1)
      }
    }
    dims(dim) = next
    DimDelta(next.valuesIterator.map(_._2.toLong).sum, added, expired)
  }
}

/** One generated export: its directory, the data lines written
  * (duplicates and malformed lines included), the distinct rows each
  * table must stage, and what each mart table must hold after the load. */
final case class Export(dir: String, lines: Long, staged: Map[String, Long],
                        mart: Map[String, DimDelta], factRows: Long, bytes: Long)

/** Seeded generator of Synthea-shaped CSV exports: the 18 tables of the
  * packaged schema dictionary with the row ratios of a real export (the
  * shape of graft.tools.SyntheaBench's fixture), UPPERCASE headers, a
  * seeded share of exact duplicate lines (the cleaner drops them) and of
  * malformed lines carrying extra fields (the CSV repair truncates them).
  * Keys reference each other, so the star joins have real selectivity.
  *
  * [[backfill]] writes the first full export; each [[day]] writes a small
  * delta of the eight mart-source tables: a few percent of patients change
  * name or address, a few patients are new, and new encounters,
  * observations and other events arrive. The same seed gives byte-identical
  * files. The generator also returns the counts the pipeline must produce. */
final class SyntheaGen(seed: Long, nPatients: Int) {

  import SyntheaGen._

  private val schemas: Map[String, Seq[(String, String)]] =
    graft.SyntheaEtl.ExpectedTables.toSeq.map { t =>
      val s = SchemaJson.loadResource(t).getOrElse(
        throw new IllegalStateException(s"no packaged schema for $t"))
      t -> s.fields.toSeq.map(f => f.name -> (f.dataType.typeName match {
        case "integer" => "int"
        case other => other
      }))
    }.toMap

  private final case class Patient(id: String, first: String, middle: String, last: String,
                                   gender: String, birthdate: String, race: String,
                                   ethnicity: String, address: String, city: String,
                                   state: String, zip: String)

  private val patients = ArrayBuffer.empty[Patient]
  private var nEncounters = 0
  private var nPayers = 0
  private val model = new MartModel
  private val allergyKeys = mutable.Set.empty[String]
  private val medKeys = mutable.Set.empty[String]
  private val obsKeys = mutable.Set.empty[String]

  private def rng(purpose: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + purpose)

  /** Rows per table of the first load, in the ratios of a real export. */
  private def backfillRows(table: String): Int = table match {
    case "patients" => nPatients
    case "encounters" => 5 * nPatients
    case "conditions" | "medications" => 3 * nPatients
    case "observations" => 10 * nPatients
    case "allergies" => nPatients
    case "payer_transitions" => 2 * nPatients
    case "payers" => math.max(10, nPatients / 100)
    case _ => nPatients / 10
  }

  /** Rows per mart-source table of one daily delta. */
  private def dayRows(table: String): Int = {
    val k = math.max(1, nPatients / 100)
    table match {
      case "encounters" => 10 * k
      case "observations" => 20 * k
      case "conditions" | "medications" => 3 * k
      case "allergies" | "payer_transitions" => 2 * k
      case "payers" => 1
      case _ => 0
    }
  }

  def backfill(dir: String): Export = {
    val r = rng(1)
    nPayers = math.max(10, nPatients / 100)
    nEncounters = 5 * nPatients
    (0 until nPatients).foreach(i => patients += newPatient(r, i))
    val tables = graft.SyntheaEtl.ExpectedTables.toSeq.sorted.map { t =>
      t -> (t match {
        case "patients" => patients.toSeq.map(p => patientRow(r, p))
        case "payers" => (0 until nPayers).map(i => payerRow(r, i))
        case "encounters" => (0 until nEncounters).map(i => encounterRow(r, s"e$i"))
        case _ => (0 until backfillRows(t)).map(i => eventRow(r, t, i))
      })
    }
    write(dir, r, tables, patients.toSeq)
  }

  def day(d: Int, dir: String): Export = {
    val r = rng(1000L + d)
    val nChange = math.max(1, (nPatients * 3) / 100)
    val nNew = math.max(1, nPatients / 200)
    val changedIdx = mutable.LinkedHashSet.empty[Int]
    while (changedIdx.size < nChange) changedIdx += r.nextInt(patients.size)
    val changed = changedIdx.toSeq.map { i =>
      val p = patients(i)
      var last = p.last
      while (last == p.last) last = pick(r, Lasts)
      val moved = if (r.nextBoolean()) {
        val a = newAddress(r)
        p.copy(address = a._1, city = a._2, state = a._3, zip = a._4)
      } else p
      val np = moved.copy(last = last)
      patients(i) = np
      np
    }
    val fresh = (0 until nNew).map { _ =>
      val p = newPatient(r, patients.size)
      patients += p
      p
    }
    val dayPatients = changed ++ fresh
    val firstPayer = nPayers
    nPayers += dayRows("payers")
    val firstEnc = nEncounters
    nEncounters += dayRows("encounters")
    val tables = MartSources.map { t =>
      t -> (t match {
        case "patients" => dayPatients.map(p => patientRow(r, p))
        case "payers" => (firstPayer until nPayers).map(i => payerRow(r, i))
        case "encounters" => (firstEnc until nEncounters).map(i => encounterRow(r, s"e$i"))
        case _ => (0 until dayRows(t)).map(i => eventRow(r, t, i))
      })
    }
    write(dir, r, tables, dayPatients)
  }

  // ---- rows -----------------------------------------------------------

  private def newAddress(r: SplittableRandom): (String, String, String, String) =
    (s"${100 + r.nextInt(9000)} ${pick(r, Streets)}", s"City${r.nextInt(60)}",
      s"S${r.nextInt(20)}", (10000 + r.nextInt(90000)).toString)

  private def newPatient(r: SplittableRandom, i: Int): Patient = {
    val a = newAddress(r)
    Patient(s"p$i", pick(r, Firsts), s"M${r.nextInt(26)}", pick(r, Lasts),
      if (r.nextBoolean()) "F" else "M", date(r), pick(r, Races), pick(r, Ethnicities),
      a._1, a._2, a._3, a._4)
  }

  private def patientId(r: SplittableRandom): String = s"p${r.nextInt(patients.size)}"

  private def fill(r: SplittableRandom, table: String, special: PartialFunction[String, String]): Row = {
    val cols = schemas(table)
    Row(cols.map { case (name, tpe) =>
      special.applyOrElse(name, (n: String) => n match {
        case "patient" => patientId(r)
        case "payer" | "secondary_payer" => s"pay${r.nextInt(nPayers)}"
        case "encounter" => s"e${r.nextInt(nEncounters)}"
        case "id" => s"${table.take(3)}${r.nextInt(1 << 30)}"
        case _ => filler(r, tpe)
      })
    }.toArray)
  }

  private def patientRow(r: SplittableRandom, p: Patient): Row =
    fill(r, "patients", {
      case "id" => p.id
      case "first" => p.first
      case "middle" => p.middle
      case "last" => p.last
      case "gender" => p.gender
      case "birthdate" => p.birthdate
      case "race" => p.race
      case "ethnicity" => p.ethnicity
      case "address" => p.address
      case "city" => p.city
      case "state" => p.state
      case "zip" => p.zip
    })

  private def payerRow(r: SplittableRandom, i: Int): Row =
    fill(r, "payers", {
      case "id" => s"pay$i"
      case "name" => s"Payer $i"
      case "ownership" => pick(r, Ownerships)
    })

  private def encounterRow(r: SplittableRandom, id: String): Row =
    fill(r, "encounters", { case "id" => id })

  /** A row of any other table. The three event tables behind keyed
    * dimensions draw until their dimension key is new, so every key of a
    * load maps to one row content. */
  private def eventRow(r: SplittableRandom, table: String, i: Int): Row = table match {
    case "allergies" =>
      var row: Row = null
      while (row == null || !allergyKeys.add(row.get(table, "patient", "description", "start"))) {
        val start = date(r)
        row = fill(r, table, {
          case "start" => start
          case "stop" => start
          case "description" => pick(r, Allergens)
          case "type" => pick(r, AllergyTypes)
          case "category" => pick(r, AllergyCategories)
        })
      }
      row
    case "medications" =>
      var row: Row = null
      while (row == null || !medKeys.add(row.get(table, "patient", "start", "description"))) {
        val start = timestamp(r)
        row = fill(r, table, {
          case "start" => start
          case "stop" => start
          case "description" => pick(r, Medications)
        })
      }
      row
    case "observations" =>
      var row: Row = null
      while (row == null || !obsKeys.add(row.get(table, "patient", "date", "encounter") + "|" +
          obsPart1(row.get(table, "description")))) {
        // a third of the rows carry the multi-value "x or y" shape the
        // cleaner splits into _part1/_part2 columns
        val multi = r.nextInt(3) == 0
        row = fill(r, table, {
          case "date" => timestamp(r)
          case "category" => pick(r, ObsCategories)
          case "description" => if (multi) "Systolic BP or Diastolic BP" else pick(r, Observations)
          case "value" =>
            if (multi) s"${100 + r.nextInt(60)} or ${60 + r.nextInt(40)}" else filler(r, "double")
        })
      }
      row
    case _ => fill(r, table, PartialFunction.empty)
  }

  private def obsPart1(description: String): String = description.split(" or ").head

  // ---- writing and expected counts ----------------------------------------

  private def write(dir: String, r: SplittableRandom, tables: Seq[(String, Seq[Row])],
                    loadPatients: Seq[Patient]): Export = {
    Files.createDirectories(Paths.get(dir))
    var bytes = 0L
    var lines = 0L
    val staged = mutable.Map.empty[String, Long]
    tables.foreach { case (table, rows) =>
      val sb = new java.lang.StringBuilder(rows.size * 96)
      sb.append(schemas(table).map { case (n, _) =>
        if (n == "id") "Id" else n.toUpperCase }.mkString(",")).append('\n')
      var n = 0L
      val distinct = mutable.HashSet.empty[String]
      rows.foreach { row =>
        val line = row.values.mkString(",")
        distinct += line
        val u = r.nextDouble()
        if (u < DupShare) { sb.append(line).append('\n').append(line).append('\n'); n += 2 }
        else if (u < DupShare + MalformedShare) {
          sb.append(line).append(",extra").append(r.nextInt(100)).append(",x\n"); n += 1
        } else { sb.append(line).append('\n'); n += 1 }
      }
      val data = sb.toString.getBytes(UTF_8)
      Files.write(Paths.get(dir, s"$table.csv"), data)
      bytes += data.length
      lines += n
      staged(table) = distinct.size.toLong
    }
    val byTable = tables.toMap
    def inputs(table: String, key: Row => String, content: Row => String) =
      byTable(table).map(row => key(row) -> content(row))
    def cols(table: String, names: String*)(row: Row): String = row.get(table, names: _*)
    val mart = Map(
      "dim_location" -> model.merge("dim_location", loadPatients.map { p =>
        val k = s"${p.address}|${p.city}|${p.state}|${p.zip}"
        k -> k
      }.distinct),
      "dim_payer" -> model.merge("dim_payer",
        inputs("payers", cols("payers", "id"), cols("payers", "name", "ownership"))),
      "dim_allergies" -> model.merge("dim_allergies", inputs("allergies",
        cols("allergies", "patient", "description", "start"),
        cols("allergies", "start", "stop", "description", "type", "category"))),
      "dim_patient" -> model.merge("dim_patient", loadPatients.map(p =>
        p.id -> s"${p.first} ${p.middle} ${p.last}|${p.gender}|${p.birthdate}|${p.race}|${p.ethnicity}")),
      "dim_medication" -> model.merge("dim_medication", inputs("medications",
        cols("medications", "patient", "start", "description"),
        cols("medications", "start", "stop", "description"))),
      "dim_observation" -> model.merge("dim_observation", inputs("observations",
        row => row.get("observations", "patient", "date", "encounter") + "|" +
          obsPart1(row.get("observations", "description")),
        cols("observations", "category", "value", "description")))
    )
    Export(dir, lines, staged.toMap, mart, loadPatients.size.toLong, bytes)
  }

  private val colIndex: Map[(String, String), Int] =
    schemas.toSeq.flatMap { case (t, cols) => cols.map(_._1).zipWithIndex.map { case (c, i) => (t, c) -> i } }.toMap

  private final case class Row(values: Array[String]) {
    def get(table: String, names: String*): String =
      names.map(n => values(colIndex((table, n)))).mkString("|")
  }
}

object SyntheaGen {
  val MartSources: Seq[String] = Seq("allergies", "encounters", "conditions", "medications",
    "observations", "patients", "payer_transitions", "payers")

  val DupShare = 0.01
  val MalformedShare = 0.01

  private val Firsts = (0 until 700).map(i => s"Fn$i")
  private val Lasts = (0 until 900).map(i => s"Ln$i")
  private val Streets = Seq("Main St", "Oak Ave", "Elm St", "Pine Rd", "Cedar Ln", "Maple Dr")
  private val Races = Seq("white", "black", "asian", "native", "other")
  private val Ethnicities = Seq("hispanic", "nonhispanic")
  private val Ownerships = Seq("Government", "Private", "Nonprofit")
  private val Allergens = (0 until 30).map(i => s"Allergen $i")
  private val AllergyTypes = Seq("allergy", "intolerance")
  private val AllergyCategories = Seq("food", "environment", "medication")
  private val Medications = (0 until 40).map(i => s"Medication $i 10 MG")
  private val Observations = Seq("Body Height", "Body Weight", "Heart rate", "Respiratory rate",
    "Body temperature", "Pain severity", "Glucose", "Hemoglobin A1c")
  private val ObsCategories = Seq("vital-signs", "laboratory", "survey")

  private def pick(r: SplittableRandom, xs: Seq[String]): String = xs(r.nextInt(xs.size))

  private def two(sb: java.lang.StringBuilder, v: Int): java.lang.StringBuilder =
    (if (v < 10) sb.append('0') else sb).append(v)

  private def date(r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder(10).append(2000 + r.nextInt(26)).append('-')
    two(two(sb, 1 + r.nextInt(12)).append('-'), 1 + r.nextInt(28)).toString
  }

  private def timestamp(r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder(20).append(date(r)).append('T')
    two(two(two(sb, r.nextInt(24)).append(':'), r.nextInt(60)).append(':'), r.nextInt(60))
      .append('Z').toString
  }

  /** Canonical text for a declared type, so that distinct text means a
    * distinct typed value after the cleaner's casts. */
  private def filler(r: SplittableRandom, tpe: String): String = tpe match {
    case "date" => date(r)
    case "timestamp" => timestamp(r)
    case "int" => r.nextInt(100000).toString
    case "long" => r.nextLong(1000000000L).toString
    case "double" => s"${r.nextInt(10000)}.${10 + r.nextInt(90)}"
    case _ => s"v${r.nextInt(100000)}"
  }
}
