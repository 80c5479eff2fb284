package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.tax.{Compliance, Refunds, Reports, TaxCalc, TextReport}

/** One `graft.Cli` command (compliance, refund or report) re-enacted call
  * by call in `graft.Cli.run`'s order, with a span around each call into
  * `graft.tax`. Every action frame gets three spans — build (the lazy
  * DataFrame construction), plan (`executedPlan`) and exec (the action).
  *
  * Lazy layers get their self time by prefix differencing, so each command
  * first executes the prefix frames on their own, twice each so the second
  * run is warm: `readCsv`'s frame (every command), then
  * `withTax(normalize(...))` and `overpayments(...)` (refund). Those extra
  * executions are part of the tracing overhead.
  */
object TaxTrace {
  def apply(o: Map[String, String]): Map[String, Any] = {
    val csv = o("csv")
    val asOf = java.time.LocalDate.parse(o("as-of"))
    // the session graft.Cli.main builds
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-tax-cli")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val tr = new Tracer(o("command"), enabled = true)
    val counters = new ExecCounters
    spark.sparkContext.addSparkListener(counters)
    val before = counters.snapshot(spark.sparkContext)
    val facts = Seq.newBuilder[Map[String, Any]]
    val counts = Map.newBuilder[String, Any]

    def act[T](name: String, frame: => DataFrame)(action: DataFrame => T): T = {
      val df = tr(s"build:$name")(frame)
      tr(s"plan:$name")(df.queryExecution.executedPlan)
      val r = tr(s"exec:$name")(action(df))
      facts += PlanFacts(df) + ("op" -> name)
      r
    }
    def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()
    def prefix(name: String, frame: => DataFrame): Long = {
      act(name, frame)(rows)
      act(name, frame)(rows)
    }
    def read(): DataFrame = TaxCalc.readCsv(spark, csv)

    counts += "readCsv_rows" -> prefix("tax.TaxCalc.readCsv", read())
    o("command") match {
      case "compliance" =>
        val registered = o("registered").split(",").toSeq.toDF("state_code")
        val txns = tr("build:tax.TaxCalc.normalize")(TaxCalc.normalize(read()))
        act("tax.Compliance.checkNexus",
          Compliance.checkNexus(Compliance.stateActivity(txns)).limit(15))(_.collect())
        act("tax.Compliance.alerts",
          Compliance.alerts(Compliance.stateActivity(txns), registered, asOf))(_.collect())

      case "refund" =>
        val txns = tr("build:tax.TaxCalc.normalize")(TaxCalc.normalize(read()))
        prefix("tax.TaxCalc.withTax", TaxCalc.withTax(txns))
        counts += "overpayments_rows" ->
          prefix("tax.Refunds.overpayments", Refunds.overpayments(txns, asOf))
        val over = Refunds.overpayments(txns, asOf)
        val reviewed = act("tax.count", txns)(_.count())
        act("tax.Refunds.summary", Refunds.summary(over, reviewed))(_.head())
        act("tax.Refunds.claims", Refunds.claims(over))(_.collect())

      case "report" =>
        val out = o("out-dir")
        val txns = tr("build:tax.TaxCalc.normalize")(TaxCalc.normalize(read()))
        val taxed = TaxCalc.withTax(txns).persist(StorageLevel.MEMORY_AND_DISK)
        val taxReport = Reports.taxSummaryReport(taxed, generatedDate = asOf.toString)
        val taxRow = act("tax.Reports.taxSummaryReport", taxReport)(_.head())
        tr("call:tax.TextReport.formatText")(TextReport.formatText(taxRow))
        val over = Refunds.overpayments(txns, asOf).persist(StorageLevel.MEMORY_AND_DISK)
        val reviewed = act("tax.count", txns)(_.count())
        val refundReport = Reports.refundReport(over, reviewed, generatedDate = asOf.toString)
        val refundRow = act("tax.Reports.refundReport", refundReport)(_.head())
        val anyOverpayment = act("tax.isEmpty", over)(!_.isEmpty)
        if (anyOverpayment) tr("call:tax.TextReport.formatText")(TextReport.formatText(refundRow))
        tr("call:tax.Reports.write") {
          Reports.writeJson(taxReport, s"$out/tax_report.json")
          if (anyOverpayment) Reports.writeJson(refundReport, s"$out/refund_report.json")
          Reports.writeCsv(Reports.taxSummaryFlat(taxed)
            .filter(col("section") === "state").drop("section"), s"$out/tax_report.csv")
          Reports.exportTransactionDetails(taxed, s"$out/details_report.csv")
        }
        taxed.unpersist(blocking = false)
        over.unpersist(blocking = false)

      case other => sys.error(s"unknown command: $other")
    }
    val layer = ExecCounters.delta(before, counters.snapshot(spark.sparkContext))
    // rows read, counted after the traced calls so it warms nothing they time
    counts += "rows_in" -> (spark.read.text(csv).count() - 1)
    val result = Map("command" -> o("command"), "spans" -> tr.json,
      "facts" -> facts.result(), "counters" -> layer, "counts" -> counts.result())
    spark.stop()
    result
  }
}
