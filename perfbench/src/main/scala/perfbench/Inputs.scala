package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import scala.util.Random

import graft.gen.WeatherGenerator
import graft.gen.WeatherGenerator.Station

/** Seeded weather envelopes in the reference's raw layout: `{"readings":
  * [...]}` documents under `year=/month=/day=/hour=` directories, one
  * reading per station per tick, readings drawn by the engine's own
  * generator. */
object Inputs {

  /** The reference's five stations first, then synthetic ones, one city
    * each, so the daily summary has one group per station per day. */
  def stations(n: Int): Seq[Station] =
    (WeatherGenerator.Stations ++ (WeatherGenerator.Stations.size until n).map { i =>
      val r = new Random(i)
      Station(f"STATION_${i + 1}%03d", f"City_${i + 1}%03d",
        8 + r.nextDouble() * 24, 70 + r.nextDouble() * 18)
    }).take(n)

  val Start: LocalDateTime = LocalDateTime.of(2026, 8, 12, 0, 0)

  private val NameFmt = DateTimeFormatter.ofPattern("'batch_'yyyyMMdd_HHmmss")

  def hourDir(root: String, ts: LocalDateTime): Path =
    Paths.get(root, s"year=${ts.getYear}", f"month=${ts.getMonthValue}%02d",
      f"day=${ts.getDayOfMonth}%02d", f"hour=${ts.getHour}%02d")

  /** One envelope holding `ticks` consecutive ticks from `first`, each with
    * one reading per station. */
  def envelope(rng: Random, sts: Seq[Station], first: LocalDateTime, ticks: Int,
               tickSeconds: Int): String =
    (0 until ticks).flatMap { k =>
      val ts = first.plusSeconds(k.toLong * tickSeconds)
      sts.map(WeatherGenerator.readingJson(rng, _, ts))
    }.mkString("""{"readings": [""", ",", "]}")

  /** Write an envelope so a reader never sees it half-written: to a hidden
    * name first, then renamed in the same directory. */
  def writeAtomically(dir: Path, name: String, body: String): Path = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Envelope `i` of a sequence in which each file covers `ticks` ticks. */
  def writeFile(root: String, rng: Random, sts: Seq[Station], i: Int, ticks: Int,
                tickSeconds: Int): Path = {
    val first = Start.plusSeconds(i.toLong * ticks * tickSeconds)
    writeAtomically(hourDir(root, first), s"${first.format(NameFmt)}_$i.json",
      envelope(rng, sts, first, ticks, tickSeconds))
  }

  /** Files `from until to` of a sequence, all at once. */
  def writeFiles(root: String, seed: Long, sts: Seq[Station], from: Int, to: Int,
                 ticks: Int, tickSeconds: Int): Seq[Path] = {
    val rng = new Random(seed)
    (from until to).map(writeFile(root, rng, sts, _, ticks, tickSeconds))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Parquet files and their bytes under a directory tree. */
  def parquetFiles(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(f => f.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }
}
