package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{CrmCleanups, CrmPipeline, PipelineMain, Stm}
import graft.sources.CsvJsonIO

/** The `crm_etl` op: the public calls `PipelineMain.run` makes, in the
  * same order and with the shape assertion on, each behind its own span.
  * Only the spans are added, so the op writes the same files as
  * `PipelineMain.run` (checked by [[sameAsPipelineMain]]).
  */
object CrmWorkload {
  import CrmExtract._

  def run(spark: SparkSession, f: CrmExtract.Files, outDir: String, tr: Trace): Unit = {
    def src[T](name: String, kind: String)(body: => T): T = tr.call("sources", name, kind)(body)
    def pipe[T](name: String, kind: String)(body: => T): T = tr.call("pipeline", name, kind)(body)
    def read(p: String): DataFrame = src("CsvJsonIO.readCsv", "build")(CsvJsonIO.readCsv(spark, p))
    def write(df: => DataFrame, p: String): Unit =
      src("CsvJsonIO.writeCsv", "action")(CsvJsonIO.writeCsv(df, p, single = true))

    val raw = read(f.data)
    val data = pipe("CrmPipeline.normalizeHeaders", "build")(CrmPipeline.normalizeHeaders(raw))
    pipe("CrmPipeline.assertShape", "build")(CrmPipeline.assertShape(data, f.rows.toLong, Cols))
    val stmDf = read(f.stm)
    val stm = pipe("Stm.fromDataFrame", "build")(Stm.fromDataFrame(stmDf))
    pipe("Stm.validate", "build")(stm.validate())
    val (dataOnly, metaOnly) =
      pipe("CrmPipeline.reconcileSchema", "build")(CrmPipeline.reconcileSchema(data, stm))
    import spark.implicits._
    write(dataOnly.toDF("column_in_data_not_meta"), s"$outDir/cols_in_data_not_meta")
    write(metaOnly.toDF("column_in_meta_not_data"), s"$outDir/cols_in_meta_not_data")
    val rels = read(f.rels)
    val repData = f.repData.map { case (c, p) => c -> read(p) }
    val exempt = pipe("CrmCleanups.testExemption", "build")(CrmCleanups.testExemption(data))
    val result = pipe("CrmPipeline.run", "build")(CrmPipeline.run(
      data = raw, stm = stm, testExempt = exempt, fixes = CrmCleanups.fixes,
      mappings =
        if (data.columns.contains(Faith))
          Seq((Faith, rels, "Values in Data", "Replacement Values"))
        else Seq.empty,
      emailCol = Email, repData = repData))
    val cleaned = result.cleaned.persist()
    val output = result.output.persist()
    val removed = result.removedTestRows.persist()
    try {
      write(removed, s"$outDir/deleted_test_rows")
      pipe("count:removedTestRows", "action")(removed.count())
      src("CsvJsonIO.writeDistinctLists", "action")(
        CsvJsonIO.writeDistinctLists(result.multiChoice, s"$outDir/custom_fields"))
      val audit = result.mergeAudit.persist()
      write(audit, s"$outDir/merge_audit")
      val counters = pipe("CrmPipeline.mergeCounters", "build")(
        CrmPipeline.mergeCounters(audit))
      write(counters.orderBy("target", "from_col", "mode"), s"$outDir/merge_counters")
      pipe("count:mergeAudit", "action")(audit.count())
      audit.unpersist()
      write(output, s"$outDir/output")
      val key = output.columns.head
      src("CsvJsonIO.writeSample", "action")(
        CsvJsonIO.writeSample(output, s"$outDir/sample_output", key))
      pipe("count:output", "action")(output.count())
    } finally {
      output.unpersist()
      removed.unpersist()
      cleaned.unpersist()
    }
  }

  /** Problems found in one op's sinks against the planted census; empty
    * when every planted defect was cleaned and every count holds.
    */
  def check(spark: SparkSession, f: CrmExtract.Files, outDir: String): Seq[String] = {
    val c = f.census
    def csv(p: String) = CsvJsonIO.readCsv(spark, s"$outDir/$p")
    def v(name: String) = coalesce(col(s"`$name`"), lit(""))
    val bad = (badHomePhones :+ switchboard).map(lit(_))
    val out = csv("output")
    val n = count(lit(1))
    def cnt(p: org.apache.spark.sql.Column) = sum(when(p, 1L).otherwise(0L))
    val repCols = repDataCols.indices.map(i => s"cb_${checkboxName(i)}")
    val row = out.agg(n.as("rows"),
      cnt(v("last_name").contains(",")).as("last_name_comma"),
      cnt(v("address1").isin(",", ", ")).as("address_commas"),
      cnt(v("city").rlike("^.*[A-Z]$")).as("city_upper"),
      cnt(v("city").contains("&#039;")).as("city_entity"),
      cnt(v("city").contains("'")).as("city_apos"),
      cnt(v("zip") === "0").as("zip_zero"),
      cnt(v("email") === "a..murdock@dsl.pipex.com").as("email_typo"),
      cnt(v("email") === "a.murdock@dsl.pipex.com").as("email_fixed"),
      cnt(exists(split(v("phone"), ", "), t => t.isin(bad: _*))).as("phone_bad"),
      cnt(v("join_date") === "//").as("join_date_empty"),
      cnt(!v("join_date").rlike("^[0-9]{2}/[0-9]{2}/[0-9]{4}$") && v("join_date") =!= "//")
        .as("join_date_malformed"),
      cnt(v("employer").isin("None", "Na")).as("org_none_na"),
      cnt(v("religion") =!= "" && !v("religion").isin(religionMap.map(_._2): _*))
        .as("religion_unmapped"),
      cnt(v("tags") =!= "").as("tagged"),
      array(repCols.map(r => cnt(v(r) =!= "")): _*).as("repdata"))
      .collect().head
    def got(k: String): Long = row.getAs[Long](k)
    val expectations = Seq(
      "rows" -> (f.rows - c("test_rows")),
      "last_name_comma" -> c("last_name_exempt"),
      "address_commas" -> 0L,
      "city_upper" -> 0L,
      "city_entity" -> 0L,
      "city_apos" -> c("city_apos_entity"),
      "zip_zero" -> 0L,
      "email_typo" -> 0L,
      "email_fixed" -> 1L,
      "phone_bad" -> 0L,
      "join_date_empty" -> c("join_date_empty_kept"),
      "join_date_malformed" -> 0L,
      "org_none_na" -> 0L,
      "religion_unmapped" -> 0L,
      "tagged" -> c("tagged_rows"))
    val problems = expectations.collect {
      case (k, want) if got(k) != want => s"$k: got ${got(k)}, planted $want"
    }
    val rep = row.getSeq[Long](row.fieldIndex("repdata"))
    val repProblems = rep.zipWithIndex.collect {
      case (g, i) if g != c(s"repdata_kept_$i") =>
        s"${repCols(i)}: got $g non-blank, planted ${c(s"repdata_kept_$i")}"
    }
    val removed = csv("deleted_test_rows").count()
    val lists = Option(new File(s"$outDir/custom_fields").list()).map(_.length).getOrElse(0)
    val multiChoice = columns.count(_.customType == "Multiple Choice")
    val metaOnly = csv("cols_in_meta_not_data").collect().map(_.getString(0)).toSeq
    val sample = csv("sample_output").count()
    problems ++ repProblems ++
      Seq(
        if (removed != c("test_rows")) Some(s"deleted_test_rows: $removed, planted ${c("test_rows")}") else None,
        if (lists != multiChoice) Some(s"custom_fields: $lists lists, want $multiChoice") else None,
        if (metaOnly != Seq("Retired: Old field")) Some(s"cols_in_meta_not_data: $metaOnly") else None,
        if (sample != math.min(10000L, f.rows - c("test_rows"))) Some(s"sample_output: $sample rows")
        else None,
        if (csv("merge_counters").count() == 0L) Some("merge_counters: empty") else None
      ).flatten
  }

  private def checkboxName(i: Int): String =
    repDataCols(i).stripPrefix("Checkbox: ").toLowerCase.replace(' ', '_')

  /** Spec checks of the generated extract, read back through Spark: the
    * shape and the planted-defect census, counted independently of the
    * generator.
    */
  def checkInput(spark: SparkSession, f: CrmExtract.Files): Seq[String] = {
    val c = f.census
    val data = CrmPipeline.normalizeHeaders(CsvJsonIO.readCsv(spark, f.data))
    def v(name: String) = coalesce(col(s"`$name`"), lit(""))
    def cnt(p: org.apache.spark.sql.Column) = sum(when(p, 1L).otherwise(0L))
    val inScope = columns.filter(_.inScope).map(_.name)
    val exempt = v(Constituency) === "Southampton, Test"
    val anyTest = inScope.map(n => lower(v(n)).contains("test")).reduce(_ || _)
    val row = data.agg(count(lit(1)).as("rows"),
      cnt(anyTest && !exempt).as("test_rows"),
      cnt(exempt).as("exempt_rows"),
      cnt(v(LastName).contains(",") && v(LastName) =!= "F. Queen, Jr.").as("last_name_comma"),
      cnt(v(LastName) === "F. Queen, Jr.").as("last_name_exempt"),
      cnt(v(Address1).isin(",", ", ")).as("address_commas"),
      cnt(v(City).rlike("^.*[A-Z]$")).as("city_upper_suffix"),
      cnt(v(City).contains("&#039;")).as("city_apos_entity"),
      cnt(v(Zip) === "0").as("zip_zero"),
      cnt(v(Email) === "a..murdock@dsl.pipex.com").as("email_typo"),
      cnt(v(HomePhone).isin(badHomePhones: _*)).as("home_phone_invalid"),
      cnt(v(WorkPhone) === switchboard).as("work_phone_switchboard"),
      cnt(v(Org).isin("None", "Na")).as("org_none_na")).collect().head
    val shape =
      if (data.columns.length != Cols) Seq(s"columns: ${data.columns.length}, want $Cols")
      else Nil
    val counted = Seq("test_rows", "exempt_rows", "last_name_comma", "last_name_exempt",
      "address_commas", "city_upper_suffix", "city_apos_entity", "zip_zero", "email_typo",
      "home_phone_invalid", "work_phone_switchboard", "org_none_na")
    val rows = row.getAs[Long]("rows")
    shape ++ (if (rows != f.rows) Seq(s"rows: $rows, want ${f.rows}") else Nil) ++
      counted.collect {
        case k if row.getAs[Long](k) != c(k) => s"$k: counted ${row.getAs[Long](k)}, planted ${c(k)}"
      } ++
      (if (!CsvJsonIO.readCsv(spark, f.data).columns.exists(_.contains("\n")))
        Seq("no header with an embedded newline")
      else Nil)
  }

  /** Runs `PipelineMain.run` on the same input into `refDir` and
    * returns the sink directories whose bytes differ from `outDir`.
    */
  def sameAsPipelineMain(spark: SparkSession, f: CrmExtract.Files, outDir: String,
      refDir: String): Seq[String] = {
    PipelineMain.run(spark, f.data, f.stm, f.rels, refDir, f.repData, Email,
      Some((f.rows.toLong, Cols)))
    val a = Fs.sinkDigests(new File(outDir))
    val b = Fs.sinkDigests(new File(refDir))
    (a.keySet ++ b.keySet).toSeq.sorted.filter(k => a.get(k) != b.get(k))
  }
}
