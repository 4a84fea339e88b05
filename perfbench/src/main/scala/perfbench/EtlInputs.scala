package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.SplittableRandom

import org.json4s.JsonDSL._
import org.json4s.JObject
import org.json4s.jackson.JsonMethods.{compact, render}

/** Seeded generator of reference-shaped capstone inputs.
  *
  * Writes `immigration.csv` (28 columns), `temperatures.csv`,
  * `demographics.csv` (`;`-delimited) and `i94res.csv` (289 codes) under
  * one directory, byte-identical for a given (seed, scale), and a
  * `planted.json` manifest with every count the cleaning rules and the
  * star schema must reproduce. Row counts are the reference notebook's
  * cardinalities (BASELINE.md) times `scale`; the temperature file plants
  * null `AverageTemperature` rows and duplicate `(dt, City, Country)` keys
  * at the reference's ratios (364,130 and 44,299 of 8,599,212), and the
  * demographics file has 2,891 rows of which 16 carry a null in one of
  * the five required columns.
  *
  * Usage: `EtlInputs <dir> <seed> <scale>`
  */
object EtlInputs {

  val RefImmigrationRows = 3096313L
  val RefTemperatureRows = 8599212L
  val RefTempNull = 364130L
  val RefTempDup = 44299L
  val DemographicsRows = 2891
  val DemographicsNullRows = 16
  val CountryCodes = 289
  /** i94res values drawn by immigration rows; codes past the mapping's
    * 289 have no name, the country dim's left-join null path. */
  private val ResidenceCodes = 300
  private val TempCountries = 159
  private val TempCities = 3448
  /** Share of immigration rows written with every field empty (dropped
    * by `na.drop("all")`); the reference has none, so this only keeps
    * the rule exercised. */
  private val ImmAllNullShare = 2e-5

  private val visaTypes = Array("B1", "B2", "CP", "CPL", "E1", "E2", "F1", "F2",
    "GMB", "GMT", "I", "I1", "M1", "M2", "SBP", "WB", "WT")
  private val ports = Array("NYC", "MIA", "LOS", "SFR", "HHW", "CHI", "ATL",
    "WAS", "NEW", "HOU", "DAL", "BOS", "SEA", "ORL", "AGA", "FTL")
  private val states = Array("NY", "FL", "CA", "HI", "TX", "IL", "NJ", "GA",
    "MA", "WA", "NV", "PA", "AZ", "MI", "VA", "CO", "NC", "OH", "MD", "GU")
  private val airlines = Array("AA", "UA", "DL", "BA", "LH", "AF", "JL", "EK",
    "KL", "VS", "NH", "QF", "AM", "CM", "B6", "TK")
  private val races = Array("White", "Black or African-American", "Asian",
    "Hispanic or Latino", "American Indian and Alaska Native")
  /** Field positions of the five columns `Clean.cleanDemographics` requires. */
  private val requiredDemoFields = Array(3, 4, 6, 7, 8)
  private val syllables = Array("ba", "ko", "ri", "na", "te", "lu", "mo", "sa",
    "vi", "de", "ga", "po", "ze", "fi", "ru", "xo")

  /** Counts the generator planted; the benchmark checks the pipeline
    * reproduces each of them. */
  final case class Planted(
      immigrationRows: Long, immAllNull: Long,
      temperatureRows: Long, tempNull: Long, tempDup: Long,
      demographicsRows: Long, demoNull: Long, countryCodeRows: Long,
      visaTypes: Long, arrivalDates: Long, residenceCodes: Long) {
    def toJson: JObject =
      ("immigration_rows" -> immigrationRows) ~
      ("temperature_rows" -> temperatureRows) ~
      ("demographics_rows" -> demographicsRows) ~
      ("country_code_rows" -> countryCodeRows) ~
      ("dropped" -> Map(
        "imm_all_null" -> immAllNull, "temp_null" -> tempNull,
        "temp_dup" -> tempDup, "demo_null" -> demoNull)) ~
      ("star_rows" -> Map(
        "immigration_fact" -> (immigrationRows - immAllNull),
        "visa_type_dim" -> visaTypes,
        "immigration_calendar_dim" -> arrivalDates,
        "country_dim" -> residenceCodes,
        "usa_demographics_dim" -> (demographicsRows - demoNull)))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: EtlInputs <dir> <seed> <scale>")
    val planted = generate(new File(args(0)), args(1).toLong, args(2).toDouble)
    java.nio.file.Files.writeString(new File(args(0), "planted.json").toPath,
      compact(render(planted.toJson)))
  }

  /** Distinct, pronounceable, letters-only name for index `k` (< 4096). */
  private def name(k: Int, perm: Array[Int]): String = {
    val p = perm(k)
    val sb = new StringBuilder
    sb.append(syllables(p & 15)).append(syllables((p >> 4) & 15))
      .append(syllables((p >> 8) & 15))
    sb.setCharAt(0, sb.charAt(0).toUpper)
    sb.toString
  }

  private def permutation(n: Int, rnd: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private final class Out(f: File) extends AutoCloseable {
    private val os: OutputStream = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    private val sb = new java.lang.StringBuilder(512)
    def line(fields: String*): Unit = line(',', fields: _*)
    def line(sep: Char, fields: String*): Unit = {
      sb.setLength(0)
      var i = 0
      while (i < fields.length) {
        if (i > 0) sb.append(sep)
        if (fields(i) != null) sb.append(fields(i))
        i += 1
      }
      sb.append('\n')
      os.write(sb.toString.getBytes(US_ASCII))
    }
    def close(): Unit = os.close()
  }

  /** Fixed-point `v / 1000` with three decimals, e.g. -12345 → "-12.345". */
  private def milli(v: Int): String = {
    val a = math.abs(v)
    val frac = a % 1000
    val s = s"${a / 1000}.${if (frac < 10) "00" else if (frac < 100) "0" else ""}$frac"
    if (v < 0) "-" + s else s
  }

  def generate(dir: File, seed: Long, scale: Double): Planted = {
    dir.mkdirs()
    val root = new SplittableRandom(seed)
    val nameRnd = root.split()
    val perm = permutation(4096, nameRnd)
    val countries = Array.tabulate(TempCountries)(k => name(k, perm))
    val cities = Array.tabulate(TempCities)(k => name(TempCountries + k % 3000, perm) +
      (if (k >= 3000) " " + name(k - 3000, perm) else ""))

    // i94res: the first 159 codes name the temperature countries (in the
    // reference's UPPERCASE), the rest name countries with no readings.
    val codes = new Out(new File(dir, "i94res.csv"))
    try {
      codes.line("code", "Name")
      for (k <- 0 until CountryCodes) {
        val n = if (k < TempCountries) countries(k) else name(TempCountries + 3000 + k, perm)
        codes.line((100 + k).toString, n.toUpperCase)
      }
    } finally codes.close()

    val immRows = math.round(RefImmigrationRows * scale)
    val tempRows = math.round(RefTemperatureRows * scale)
    val tempRnd = root.split()
    val demoRnd = root.split()
    val immRnd = root.split()

    // Temperatures, on their own thread: every base row takes a fresh
    // (city, month) key; a duplicate row repeats the key of an earlier
    // non-null base row.
    val tempTask = new java.util.concurrent.FutureTask[(Long, Long)](() => {
      var tempNull, tempDup = 0L
      val temp = new Out(new File(dir, "temperatures.csv"))
      try {
        temp.line("dt", "AverageTemperature", "AverageTemperatureUncertainty",
          "City", "Country", "Latitude", "Longitude")
        val pNull = RefTempNull.toDouble / RefTemperatureRows
        val pDup = RefTempDup.toDouble / RefTemperatureRows
        val keys = new Array[Int](tempRows.toInt)
        var nKeys = 0
        var base = 0
        for (_ <- 0L until tempRows) {
          val u = tempRnd.nextDouble()
          val isDup = u < pDup && nKeys > 0
          val isNull = !isDup && u < pDup + pNull
          val key =
            if (isDup) keys(tempRnd.nextInt(nKeys))
            else { base += 1; base - 1 }
          if (!isDup && !isNull) { keys(nKeys) = key; nKeys += 1 }
          if (isDup) tempDup += 1
          if (isNull) tempNull += 1
          val city = key % TempCities
          val month = key / TempCities
          val mm = month % 12 + 1
          val dt = s"${1850 + month / 12}-${if (mm < 10) "0" else ""}$mm-01"
          val avg = if (isNull) null else milli(tempRnd.nextInt(-25000, 35000))
          val unc = milli(tempRnd.nextInt(50, 4000))
          val lat = s"${city % 90}.${city % 100}${if (city % 2 == 0) "N" else "S"}"
          val lon = s"${city % 180}.${city % 97}${if (city % 3 == 0) "E" else "W"}"
          temp.line(dt, avg, unc, cities(city), countries(city % TempCountries), lat, lon)
        }
      } finally temp.close()
      (tempNull, tempDup)
    })
    new Thread(tempTask, "gen-temperatures").start()

    // Demographics: unique (City, State, State Code, Race) per row; 16
    // rows get a null in one of the five columns the cleaner requires.
    val demo = new Out(new File(dir, "demographics.csv"))
    val nullRows = permutation(DemographicsRows, demoRnd).take(DemographicsNullRows).toSet
    try {
      demo.line(';', "City", "State", "Median Age", "Male Population",
        "Female Population", "Total Population", "Number of Veterans",
        "Foreign-born", "Average Household Size", "State Code", "Race", "Count")
      for (k <- 0 until DemographicsRows) {
        val male = 20000 + demoRnd.nextInt(400000)
        val female = 20000 + demoRnd.nextInt(400000)
        val fields = Array[String](
          cities(k / races.length), s"State${k % 50}",
          milli(20000 + demoRnd.nextInt(30000)).dropRight(2),
          male.toString, female.toString, (male + female).toString,
          demoRnd.nextInt(30000).toString, demoRnd.nextInt(200000).toString,
          milli(1500 + demoRnd.nextInt(2500)).dropRight(1),
          states(k % states.length), races(k % races.length),
          demoRnd.nextInt(100000).toString)
        if (nullRows(k)) fields(requiredDemoFields(k % requiredDemoFields.length)) = null
        demo.line(';', fields.toIndexedSeq: _*)
      }
    } finally demo.close()

    // Immigration: April 2016 arrivals (SAS days 20545–20574), unique cicid.
    var allNull = 0L
    val usedVisa = new java.util.BitSet
    val usedDate = new java.util.BitSet
    val usedRes = new java.util.BitSet
    val imm = new Out(new File(dir, "immigration.csv"))
    try {
      imm.line("cicid", "i94yr", "i94mon", "i94cit", "i94res", "i94port", "arrdate",
        "i94mode", "i94addr", "depdate", "i94bir", "i94visa", "count", "dtadfile",
        "visapost", "occup", "entdepa", "entdepd", "entdepu", "matflag", "biryear",
        "dtaddto", "gender", "insnum", "airline", "admnum", "fltno", "visatype")
      val empty = Seq.fill(28)(null: String)
      for (i <- 0L until immRows) {
        if (immRnd.nextDouble() < ImmAllNullShare) {
          allNull += 1
          imm.line(empty: _*)
        } else {
          val res = immRnd.nextInt(ResidenceCodes)
          val day = immRnd.nextInt(30)
          val visa = immRnd.nextInt(visaTypes.length)
          usedRes.set(res); usedDate.set(day); usedVisa.set(visa)
          val arr = 20545 + day
          val age = 1 + immRnd.nextInt(90)
          val hasDep = immRnd.nextInt(20) != 0
          val hasAddr = immRnd.nextInt(20) != 0
          imm.line(
            s"${(i + 1) * 3 + immRnd.nextInt(3)}.0", "2016.0", "4.0",
            s"${100 + immRnd.nextInt(ResidenceCodes)}.0", s"${100 + res}.0",
            ports(immRnd.nextInt(ports.length)), s"$arr.0",
            s"${1 + immRnd.nextInt(3)}.0",
            if (hasAddr) states(immRnd.nextInt(states.length)) else null,
            if (hasDep) s"${arr + immRnd.nextInt(60)}.0" else null,
            s"$age.0", s"${1 + immRnd.nextInt(3)}.0", "1.0",
            s"201604${"%02d".format(day + 1)}",
            if (immRnd.nextInt(3) == 0) ports(immRnd.nextInt(ports.length)) else null,
            null, "G", if (hasDep) "O" else null, null, if (hasDep) "M" else null,
            s"${2016 - age}.0", "10292016", if (immRnd.nextBoolean()) "M" else "F",
            null, airlines(immRnd.nextInt(airlines.length)),
            s"${50000000000L + immRnd.nextLong(50000000000L)}.0",
            "%05d".format(immRnd.nextInt(100000)), visaTypes(visa))
        }
      }
    } finally imm.close()

    val (tempNull, tempDup) = tempTask.get()
    Planted(
      immigrationRows = immRows, immAllNull = allNull,
      temperatureRows = tempRows, tempNull = tempNull, tempDup = tempDup,
      demographicsRows = DemographicsRows, demoNull = DemographicsNullRows,
      countryCodeRows = CountryCodes,
      visaTypes = usedVisa.cardinality, arrivalDates = usedDate.cardinality,
      residenceCodes = usedRes.cardinality)
  }
}
