package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

/** Seeded synthetic CRM extract at the reference's shape (68,589 rows ×
  * 297 string columns), with the metadata the pipeline consumes: an STM
  * covering every column, the religion map and 11 Email-keyed
  * repeated-data tables. Every `CrmCleanups` defect kind and a set of
  * test rows are planted at known counts; `census` carries them so the
  * workload can check the pipeline's outputs against what was planted.
  *
  * Generated in one process from one `java.util.Random(seed)`, so the
  * same seed gives byte-identical files.
  */
object CrmExtract {

  /** The reference extract's shape (config.py:6-7). */
  val ReferenceRows = 68589
  val Cols = 297

  /** Columns `CrmCleanups` rewrites or keys on, by their real names. */
  val Email = "Email"
  val LastName = "Last Name"
  val Address1 = "Address 1"
  val City = "City"
  val Zip = "Zip"
  val HomePhone = "Home Phone"
  val WorkPhone = "Work Phone"
  val JoinDate = "Join Date"
  val Faith = "Are you a person of faith?"
  val Constituency = "Parliamentary Constituency (U.K.)"
  val Org = "Organisational/company sign up:Name of Organisation"

  final case class Column(header: String, inScope: Boolean, target: String,
      isTag: Boolean, tagName: String, customType: String, fill: Double) {
    /** The name after `CrmPipeline.normalizeHeaders`. */
    def name: String = header.replace("\n", "")
  }

  private val topics = Seq("Housing", "Transport", "Climate", "Education",
    "Health", "Arts", "Sport", "Heritage", "Youth", "Elderly care",
    "Local events", "Fundraising", "Campaigns", "Policy", "Digital",
    "Food banks", "Parks", "Libraries", "Cycling", "Refugees", "Energy",
    "Water", "Animals", "Music", "Theatre", "Allotments", "Recycling",
    "Safety", "Planning", "Jobs", "Skills", "Childcare", "Disability",
    "Mental health", "Faith groups", "Volunteering", "Trade", "Rail",
    "Buses", "Walking")
  private val checkboxes = Seq("Volunteer roles", "Event attendance",
    "Leaflet areas", "Phone bank", "Donation type", "Membership tier",
    "Newsletter topics", "Skills offered", "Availability",
    "Contact preference", "Committee interest")
  private val preferences = Seq("Pronoun", "Title", "Region", "Age band",
    "Channel", "Language", "Ward", "Branch", "Source", "Segment")

  /** The 297 columns, in file order. Headers with embedded newlines sit
    * at the front, as in the reference extract (main.py:206-207).
    */
  val columns: IndexedSeq[Column] = {
    def core(h: String, target: String, fill: Double, mc: Boolean = false) =
      Column(h, inScope = true, target, isTag = false, "",
        if (mc) "Multiple Choice" else "", fill)
    val base = Seq(
      core(Email, "email", 1.0),
      core("First\nName", "first_name", 0.97),
      core(LastName, "last_name", 0.97),
      core(Address1, "address1", 0.85),
      core("Address 2", "address2", 0.35),
      core(City, "city", 0.85),
      core("County", "county", 0.5),
      core(Zip, "zip", 0.85),
      core(HomePhone, "phone", 0.45),
      core(WorkPhone, "phone", 0.2),
      core("Mobile\nPhone", "phone", 0.4),
      core(JoinDate, "join_date", 0.9),
      core(Faith, "religion", 0.4, mc = true),
      core(Constituency, "constituency", 0.8),
      core(Org, "employer", 0.3),
      core("Notes 1", "notes", 0.25),
      core("Notes 2", "notes", 0.12),
      core("Notes 3", "notes", 0.06),
      core("Notes 4", "notes", 0.03))
    val boxes = checkboxes.map(c => core(s"Checkbox: $c",
      "cb_" + c.toLowerCase.replace(' ', '_'), 0.3, mc = true))
    val tags = topics.zipWithIndex.map { case (t, i) =>
      // a few tag names carry surrounding spaces (the STM trims them)
      val tag = if (i % 7 == 0) s" $t " else t
      val header = if (i % 10 == 3) s"Interest:\n$t" else s"Interest: $t"
      Column(header, inScope = true, "", isTag = true, tag, "", 0.03)
    }
    val prefs = preferences.map(p => core(s"Preference: $p",
      "pref_" + p.toLowerCase.replace(' ', '_'), 0.3, mc = true))
    val nCustom = 60
    val custom = (1 to nCustom).map(i => core(f"Custom: Field $i%02d",
      f"custom_field_$i%02d", 0.05 + (i % 6) * 0.05))
    val nLegacy = Cols - base.size - boxes.size - tags.size - prefs.size -
      nCustom
    val legacy = (1 to nLegacy).map(i =>
      Column(if (i % 40 == 7) f"Legacy:\nField $i%03d" else f"Legacy: Field $i%03d",
        inScope = false, "", isTag = false, "", "", 0.04 + (i % 5) * 0.04))
    (base ++ boxes ++ tags ++ prefs ++ custom ++ legacy).toIndexedSeq
  }
  require(columns.size == Cols && columns.map(_.name).distinct.size == Cols)

  val repDataCols: Seq[String] = checkboxes.map(c => s"Checkbox: $c")
  val religionMap: Seq[(String, String)] = Seq(
    "christian - catholic" -> "Catholic", "christian - anglican" -> "Anglican",
    "christian - other" -> "Christian", "jewish" -> "Jewish",
    "muslim" -> "Muslim", "hindu" -> "Hindu", "sikh" -> "Sikh",
    "buddhist" -> "Buddhist", "none" -> "No religion",
    "prefer not to say" -> "Prefer not to say")
  private val unmappedFaiths = Seq("pagan", "quaker", "spiritual")

  /** Values the phone fixes blank (CrmCleanups). */
  val badHomePhones = Seq("0", "999", "01", "07", "34", "84", "447511", "447911")
  val switchboard = "02072193000"

  /** A generated extract. `census` holds the planted counts by defect
    * kind; all defects sit in kept (non-test) rows, so each one is
    * visible in, or cleaned out of, the output.
    */
  final case class Files(rows: Int, data: String, stm: String, rels: String,
      repData: Seq[(String, String)], census: Map[String, Long], bytes: Long)

  private val syll = Seq("ka", "lo", "mi", "ra", "sen", "dor", "vel", "dan",
    "pur", "gil", "mon", "bri", "al", "ex", "or", "un", "har", "wen", "ly",
    "ford", "ham", "by", "ton", "wick", "ash", "ber", "cal", "fen", "nor")

  private final class Gen(seed: Long) {
    val rnd = new java.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def word(n: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < n) { sb.append(pick(syll)); i += 1 }
      sb.toString
    }
    def cap(s: String): String = s.head.toUpper + s.tail
    def digits(n: Int): String =
      (0 until n).map(_ => ('0' + rnd.nextInt(10)).toChar).mkString
    def phone(): String = "0" + (1 + rnd.nextInt(9)) + digits(9)
    def date(): String =
      f"${1995 + rnd.nextInt(25)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d " +
        f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"
    def text(): String = (1 to 1 + rnd.nextInt(4)).map(_ => word(2)).mkString(" ")
  }

  /** A value for column `c` of a clean row (no defect, no "test"). */
  private def value(g: Gen, c: Column, row: Int): String = c.name match {
    case Email => s"${g.word(2)}.${row}@${g.pick(Seq("mail", "post", "inbox"))}${g.rnd.nextInt(90)}.org"
    case "FirstName" => g.cap(g.word(2))
    case LastName => g.cap(g.word(2 + g.rnd.nextInt(2)))
    case Address1 => s"${1 + g.rnd.nextInt(300)} ${g.cap(g.word(2))} ${g.pick(Seq("Street", "Road", "Lane", "Way"))}"
    case City => g.cap(g.word(2 + g.rnd.nextInt(2)))
    case Zip => s"${g.pick(Seq("BS", "LS", "YO", "HU", "OX", "NW", "SE"))}${1 + g.rnd.nextInt(20)} ${g.rnd.nextInt(10)}${g.pick(Seq("AB", "DF", "NR", "QW"))}"
    case HomePhone | WorkPhone | "MobilePhone" => g.phone()
    case JoinDate => g.date()
    case Faith => g.pick(religionMap.map(_._1) ++ unmappedFaiths)
    case Constituency => s"${g.cap(g.word(2))} ${g.pick(Seq("North", "South", "East", "West", "Central"))}"
    case Org => g.cap(g.word(3)) + " Ltd"
    case n if n.startsWith("Checkbox: ") => g.pick(Seq("Yes", "No", "Maybe", "Yes; Yes", "No; Yes"))
    case n if n.startsWith("Interest") => "Yes"
    case n if n.startsWith("Preference: ") => g.pick(Seq("A", "B", "C", "D", "E", "F"))
    case _ =>
      // free text: sometimes with an embedded newline that the
      // pipeline's whitespace normalisation rewrites
      val t = g.text()
      if (g.rnd.nextInt(50) == 0) t.replaceFirst(" ", "\n") else t
  }

  /** Generate a `rows` × 297 extract and its side tables under `dir`.
    * The planted counts scale with `rows`.
    */
  def generate(dir: String, seed: Long, rows: Int): Files = {
    def scaled(n: Int): Int = math.max(1, (n.toLong * rows / ReferenceRows).toInt)
    new File(dir).mkdirs()
    val g = new Gen(seed)
    val idx = columns.map(_.name).zipWithIndex.toMap
    val inScope = columns.indices.filter(columns(_).inScope).toArray
    // test markers go anywhere in scope except the Email key, which must
    // stay unique for the repeated-data tables
    val testable = inScope.filter(_ != 0)
    val tagIdx = columns.indices.filter(columns(_).isTag)
    // pick the special rows up front, without overlap
    val order = scala.util.Random.javaRandomToRandom(
      new java.util.Random(seed ^ 0x5eed)).shuffle((0 until rows).toVector)
    var at = 0
    def take(n: Int): Set[Int] = { val s = order.slice(at, at + n).toSet; at += n; s }
    val testRows = take(scaled(137))
    val exemptRows = take(scaled(23)) // "Southampton, Test": kept
    val plant = Seq(
      "last_name_comma" -> take(scaled(211)),
      "last_name_exempt" -> take(scaled(9)),
      "address_commas" -> take(scaled(174)),
      "city_upper_suffix" -> take(scaled(389)),
      "city_apos_entity" -> take(scaled(57)),
      "zip_zero" -> take(scaled(143)),
      "email_typo" -> take(1),
      "home_phone_invalid" -> take(scaled(268)),
      "work_phone_switchboard" -> take(scaled(41)),
      "join_date_blank" -> take(scaled(512)),
      "org_none_na" -> take(scaled(96))).toMap
    val rowDefect = new Array[String](rows)
    plant.foreach { case (k, rs) => rs.foreach(rowDefect(_) = k) }

    val dataPath = s"$dir/crm.csv"
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(dataPath), UTF_8), 1 << 20)
    def csvCell(s: String): String =
      if (s.isEmpty) ""
      else if (s.exists(ch => ch == ',' || ch == '"' || ch == '\n' || ch == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    w.write(columns.map(c => csvCell(c.header)).mkString(","))
    w.write("\n")

    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def bump(k: String): Unit = counts(k) = counts.getOrElse(k, 0L) + 1
    // repeated-data tables: for each checkbox column, the cleaned value
    // for a subset of emails (some of them for test rows)
    val repData = repDataCols.map(c =>
      c -> scala.collection.mutable.ArrayBuffer.empty[(String, String)])
    val vals = new Array[String](Cols)
    var row = 0
    while (row < rows) {
      var i = 0
      while (i < Cols) {
        val c = columns(i)
        vals(i) = if (i == 0 || g.rnd.nextDouble() < c.fill) value(g, c, row) else ""
        i += 1
      }
      rowDefect(row) match {
        case null =>
        case "last_name_comma" => vals(idx(LastName)) = g.cap(g.word(2)) + ", " + g.cap(g.word(2))
        case "last_name_exempt" => vals(idx(LastName)) = "F. Queen, Jr."
        case "address_commas" => vals(idx(Address1)) = g.pick(Seq(",", ", "))
        case "city_upper_suffix" => vals(idx(City)) = g.word(2).toUpperCase + " " + g.pick(Seq("NW", "UK", "SE"))
        case "city_apos_entity" => vals(idx(City)) = g.cap(g.word(2)) + "&#039;s " + g.cap(g.word(2))
        case "zip_zero" => vals(idx(Zip)) = "0"
        case "email_typo" => vals(idx(Email)) = "a..murdock@dsl.pipex.com"
        case "home_phone_invalid" => vals(idx(HomePhone)) = g.pick(badHomePhones)
        case "work_phone_switchboard" => vals(idx(WorkPhone)) = switchboard
        case "join_date_blank" => vals(idx(JoinDate)) = ""
        case "org_none_na" => vals(idx(Org)) = g.pick(Seq("None", "Na"))
      }
      if (rowDefect(row) != null) bump(rowDefect(row))
      if (exemptRows(row)) vals(idx(Constituency)) = "Southampton, Test"
      if (testRows(row)) {
        // "test" anywhere in an in-scope column, any case, substring
        val c = testable(g.rnd.nextInt(testable.length))
        vals(c) = g.pick(Seq("Test", "TEST entry", "latest news", "testing 123"))
      }
      // ground truth for the row filter, computed on the final values
      val isTest = !exemptRows(row) &&
        inScope.exists(j => vals(j).toLowerCase.contains("test"))
      if (isTest != testRows(row))
        throw new IllegalStateException(s"row $row: unplanned test match")
      if (isTest) bump("test_rows")
      else {
        if (vals(idx(JoinDate)).isEmpty) bump("join_date_empty_kept")
        if (tagIdx.exists(vals(_).nonEmpty)) bump("tagged_rows")
      }
      repData.zipWithIndex.foreach { case ((_, buf), i) =>
        if (g.rnd.nextInt(4) == 0) {
          // keyed by the email as the pipeline sees it after the typo fix
          buf += ((if (rowDefect(row) == "email_typo") "a.murdock@dsl.pipex.com"
                   else vals(0)) -> g.pick(Seq("Yes", "No", "Maybe")))
          if (!isTest) bump(s"repdata_kept_$i")
        }
      }
      w.write(vals.iterator.map(csvCell).mkString(","))
      w.write("\n")
      row += 1
    }
    w.close()
    counts("exempt_rows") = exemptRows.size.toLong

    def writeTable(path: String, header: Seq[String], rows: Seq[Seq[String]]): Unit = {
      val o = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), UTF_8))
      o.write(header.map(csvCell).mkString(",")); o.write("\n")
      rows.foreach { r => o.write(r.map(csvCell).mkString(",")); o.write("\n") }
      o.close()
    }
    def tf(b: Boolean) = if (b) "T" else "F"
    val stmPath = s"$dir/stm.csv"
    writeTable(stmPath,
      Seq("fullColName", "IN SCOPE", "NB TARGET FIELD", "Tag?", "Tag Name", "Custom Field Type?"),
      columns.map(c => Seq(c.name, tf(c.inScope), c.target, tf(c.isTag), c.tagName, c.customType)) :+
        // a metadata row with no data column: the reconciliation reports it
        Seq("Retired: Old field", "F", "", "F", "", ""))
    val relsPath = s"$dir/religions.csv"
    writeTable(relsPath, Seq("Values in Data", "Replacement Values"),
      religionMap.map { case (a, b) => Seq(a, b) })
    val rep = repData.zipWithIndex.map { case ((c, buf), i) =>
      val p = f"$dir/repdata_$i%02d.csv"
      writeTable(p, Seq(Email, c, "Length"),
        buf.map { case (e, v) => Seq(e, v, v.length.toString) }.toSeq)
      counts(s"repdata_rows_$i") = buf.size.toLong
      c -> p
    }
    val bytes = (Seq(dataPath, stmPath, relsPath) ++ rep.map(_._2))
      .map(p => new File(p).length).sum
    Files(rows, dataPath, stmPath, relsPath, rep, counts.toMap, bytes)
  }
}
