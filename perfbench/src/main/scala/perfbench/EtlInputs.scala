package perfbench

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}
import java.time.LocalDate

import graft.etl.Schemas

/** Seeded generator of the three EP1 input CSVs (institutions, users, and a
  * DOPI-shaped observations directory of four files).
  *
  * At [[Main.DefaultSeed]] every value is the same pure function of the row
  * index that `graft.etl.EtlFixture.write` uses, so the files are
  * byte-identical to that fixture and numbers stay comparable with the
  * program's own `etl_pipeline` bench leg. Any other seed replaces each
  * `index % m` choice with a seeded hash modulo the same `m`, which varies
  * the values while keeping the fixture's mix:
  *  - a full duplicate of every 100th observation row;
  *  - about 1% of rows in each quarantine class (bad latitude, bad
  *    interaction count, missing plant species);
  *  - placeholder-January (missing month) and null-date (missing year) rows;
  *  - a second SCD2 version for every third user;
  *  - fixed-width author last names, so each author matches exactly one user.
  */
object EtlInputs {

  final case class Paths(institutions: String, users: String, observationsDir: String)

  /** What the generator wrote, for the row-conservation check: observation
    * rows staged (data lines), how many of them one of the quarantine rules
    * must catch, and the data lines of all three inputs. */
  final case class Expected(staged: Long, quarantined: Long, inputRows: Long)

  private val SubTypes = Seq("Free", "Pro", "HiveMind", "FieldScout", "BeeWatch+")
  private val epoch = LocalDate.of(2015, 1, 1)

  private def lastName(i: Int): String = f"Name$i%05dx"

  def write(dir: Path, nObs: Int, seed: Long): (Paths, Expected) = {
    val fixed = seed == Main.DefaultSeed
    /** `index % m` at the default seed, a seeded draw from [0, m) otherwise. */
    def pick(i: Int, salt: Int, m: Int): Int =
      if (fixed) i % m else java.lang.Math.floorMod(Splitmix.mix(seed, salt, i), m.toLong).toInt
    /** The fixture's "every m-th row" selector, seeded the same way. */
    def every(i: Int, salt: Int, m: Int): Boolean = pick(i, salt, m) == 0

    val nUsers = math.max(50, nObs / 50)

    val instLines = "institution,city,county" +:
      (0 until 40).map(i => s"Institute $i,City${pick(i, 1, 25)},County${pick(i, 2, 8)}")
    val instFile = dir.resolve("institutions.csv")
    Files.write(instFile, instLines.mkString("\n").getBytes(StandardCharsets.UTF_8))

    val userLines = (0 until nUsers).flatMap { i =>
      val join = epoch.plusDays(pick(i, 3, 1500).toLong)
      val inst = pick(i, 4, 40)
      val sub = pick(i, 5, 5)
      def row(affStart: LocalDate, inst: Int, sub: Int, subStart: LocalDate) = Seq(
        s"A. B. ${lastName(i)}", s"user$i", s"user$i@example.org",
        s"Institute $inst", affStart.toString, s"City${pick(i, 6, 25)}",
        s"County${pick(i, 7, 8)}", SubTypes(sub), subStart.toString,
        join.toString).mkString(",")
      val v1 = row(join, inst, sub, join)
      if (i % 3 == 0)
        Seq(v1, row(join.plusDays(400), (inst + 7) % 40, (sub + 1) % 5, join.plusDays(400)))
      else Seq(v1)
    }
    val usersFile = dir.resolve("users.csv")
    Files.write(usersFile,
      (Schemas.usersCsv.mkString(",") +: userLines).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))

    def badLat(j: Int) = every(j, 10, 97)
    def badCount(j: Int) = every(j, 11, 89)
    def noPlant(j: Int) = every(j, 12, 83)

    def obsLine(j: Int): String = {
      val lat = if (badLat(j)) "95.5" else ((500 + pick(j, 13, 200)).toDouble / 10).toString
      val lon = ((-50 + pick(j, 14, 300)).toDouble / 10).toString
      val inter = if (badCount(j)) "lots" else pick(j, 15, 9).toString
      val plant = if (noPlant(j)) "NA" else s"Plantago forma${pick(j, 16, 400)}"
      val month = if (every(j, 17, 41)) "NA" else (1 + pick(j, 18, 12)).toString
      val year = if (every(j, 19, 43)) "NA" else (2015 + pick(j, 20, 8)).toString
      Seq(
        s"Field note by ${lastName(pick(j, 21, nUsers))}",
        "t", "j", "2020", "1", "doi", "m", "ps", "pls",
        f"NBNP${pick(j, 22, 500)}%04d", "cp",
        s"Bombus varietas${pick(j, 23, 300)}",
        Seq("worker", "queen", "drone", "NA")(pick(j, 24, 4)),
        f"NBNL${pick(j, 25, 400)}%04d", "cpl",
        plant,
        inter,
        (1 + pick(j, 26, 28)).toString, month, year,
        "G", "GC",
        lat, lon,
        Seq("urban", "meadow", "forest", "farmland", "NA")(pick(j, 27, 5)),
        (1 + pick(j, 28, 4)).toString,
        if (pick(j, 29, 2) == 0) "Y" else "N",
        if (pick(j, 30, 3) == 0) "Y" else "N",
        "rec", "url").mkString(",")
    }
    val obsDir = dir.resolve("observations")
    Files.createDirectories(obsDir)
    val header = Schemas.dopiCsv.mkString(",")
    val rows = (0 until nObs).flatMap(j => if (j % 100 == 0) Seq(j, j) else Seq(j))
    val all = rows.map(obsLine)
    val nFiles = 4
    val per = math.max(1, math.ceil(all.size.toDouble / nFiles).toInt)
    all.grouped(per).zipWithIndex.foreach { case (g, k) =>
      Files.write(obsDir.resolve(f"observations_$k%02d.csv"),
        (header +: g).mkString("\n").getBytes(Charset.forName("ISO-8859-1")))
    }
    val quarantined = rows.count(j => badLat(j) || badCount(j) || noPlant(j))
    (Paths(instFile.toString, usersFile.toString, obsDir.toString),
      Expected(rows.size.toLong, quarantined.toLong,
        rows.size.toLong + userLines.size + instLines.size - 1))
  }
}
