package graft

import graft.sources.Csv
import org.apache.spark.sql.functions._
import java.io.File

/** K2/K3/S8/F8 golden-layout tests (dump2csv.py:62-103, loadcsv.py:83-94). */
class CsvSpec extends SparkSuite {

  private def listCsv(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".csv")) Seq(f) else Nil
    walk(new File(dir))
  }

  test("dump layout: dt/table partitions, sorted header, row cap per file") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_csvspec").toString
    val df = (1 to 250).map(i =>
      ("db_test.task_test", s"r$i", "insert", 1465372800L + i, "20160608"))
      .toDF("table", "rid", "cdc_action", "cdc_ts", "dt")
    Csv.dumpCsv(df, tmp, maxRows = 100)

    val files = listCsv(tmp)
    // partition dirs present
    assert(files.forall(_.getPath.contains("dt=20160608")))
    assert(files.forall(_.getPath.contains("table=db_test.task_test")))
    // ≤100 data rows per file (+1 header), 250 rows → ≥3 files
    assert(files.size >= 3)
    for (f <- files) {
      val lines = scala.io.Source.fromFile(f).getLines().toSeq
      // header = alphabetically sorted remaining fields (dump2csv.py:57-58)
      assert(lines.head === "cdc_action,cdc_ts,rid")
      assert(lines.size - 1 <= 100)
    }
    // total rows preserved
    assert(files.map(f =>
      scala.io.Source.fromFile(f).getLines().size - 1).sum === 250)
  }

  test("drift quarantine: mixed-schema table goes to .tmp (dump2csv.py:78-87)") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_drift").toString
    // table A clean; table B has two field-set fingerprints
    val df = Seq(
      ("db.a", "1", "f1,f2", "20160608"),
      ("db.a", "2", "f1,f2", "20160608"),
      ("db.b", "3", "f1,f2", "20160608"),
      ("db.b", "4", "f1,f2,f3", "20160608"))
      .toDF("table", "rid", "fields", "dt")
    Csv.dumpCsvWithQuarantine(df, col("fields"), tmp, 1000)

    val clean = listCsv(tmp).map(_.getPath)
    val quarantined = listCsv(tmp + ".tmp").map(_.getPath)
    assert(clean.nonEmpty && clean.forall(_.contains("table=db.a")))
    assert(quarantined.nonEmpty && quarantined.forall(_.contains("table=db.b")))
  }

  test("table name from file name (loadcsv.py:83-89)") {
    import spark.implicits._
    val df = Seq(
      "/dump/20160608/db_test.task_test.1465372800.csv",
      "/dump/db_test.other.csv").toDF("f")
    val got = df.select(Csv.tableFromFileName(col("f"))).as[String].collect()
    assert(got.toSeq === Seq("db_test.task_test", "db_test.other"))
  }

  test("dump → load roundtrip preserves rows and recovers table column") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory(SparkSuite.scratch, "graft_rt").toString
    val df = Seq(
      ("db.t", "1", "insert", "10", "20160608"),
      ("db.t", "2", "delete", "11", "20160608"))
      .toDF("table", "rid", "cdc_action", "cdc_ts", "dt")
    Csv.dumpCsv(df, tmp, 1000)
    val back = Csv.loadCsv(spark, tmp)
    assert(back.count() === 2)
    // partition column `table` is recovered from the directory layout
    assert(back.select("table").distinct().as[String].collect().toSeq === Seq("db.t"))
    assert(back.columns.sorted.toSeq ===
      Seq("cdc_action", "cdc_ts", "dt", "rid", "table"))
  }
}
