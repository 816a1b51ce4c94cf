package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Pipeline
import graft.ingest.{Fetcher, Ingest}
import graft.io.Tables
import graft.ops.Tidy
import graft.sources.XlsxWorkbook

/** The ETL steps of `dashboard_session` set-up. */
object EtlSteps {

  /** Untraced: `Pipeline.runEtl`. Traced: the same public calls in the
    * same order, each under its own span. */
  def run(t: Tracer, tidy: DataFrame, out: File, i: Long): Unit =
    if (!t.enabled) Pipeline.runEtl(tidy, out.getPath)
    else {
      t.span("io.save_staging", i)(Tables.save(tidy, out.getPath, "staging_admissions"))
      val dims = t.span("ops.nonEmptyDimensions", i)(
        Tidy.nonEmptyDimensions(tidy, Tidy.dimensions(tidy)))
      val clean = t.span("ops.cleanAggregate", i)(Tidy.cleanAggregate(tidy, dims))
      t.span("io.save_clean", i)(Tables.save(clean, out.getPath, "clean_admissions"))
    }

  /** Traced run only: the tidy relation scanned into a noop sink (every
    * sheet partition decodes its whole workbook), and the second ingest
    * path over the same workbooks; one sample each. */
  def probes(spark: SparkSession, t: Tracer, dir: File, files: Seq[File]): Map[String, Double] = {
    val fetcher = new Fetcher {
      def fetch(url: String): Array[Byte] = java.nio.file.Files.readAllBytes(new File(url).toPath)
    }
    t.span("sources.scan", -100L) {
      spark.read.format("graft-sheet").load(dir.getPath)
        .write.format("noop").mode("overwrite").save()
    }
    t.span("ingest.compileWorkbooks", -100L) {
      Ingest.compileWorkbooks(spark, files.map(_.getPath), fetcher, XlsxWorkbook)
        .write.format("noop").mode("overwrite").save()
    }
    val sheets = spark.read.format("graft-sheet").load(dir.getPath).rdd.getNumPartitions
    Map("sources.sheets" -> sheets.toDouble)
  }
}
