package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.etl.{EtlTables, GoldenCheck, ReferenceEtl}

/** End-to-end golden corpus tests (SURVEY.md §5.2.3): run the full Spark
  * ETL and diff all six star-schema tables row-for-row against goldens —
  * tools/golden (the output of executing the unmodified reference ETL) for
  * the reference corpus when it is present, and, always, the committed
  * tables of the generated fixture corpus in test resources etl_fixture/.
  */
class GoldenEtlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val repo = sys.env.getOrElse("GRAFT_REPO", "/root/repo")
  private val corpus = "/root/reference/diplom"
  private lazy val spark = Sessions.build("golden-etl-spec")

  override def afterAll(): Unit = spark.stop()

  private def tables(t: EtlTables): Seq[(String, DataFrame, String)] = Seq(
    ("inspectors", t.inspectors, "InspectorID"), ("ranks", t.ranks, "RankID"),
    ("professions", t.professions, "ProfessionID"), ("educations", t.educations, "EducationID"),
    ("locations", t.locations, "LocationID"), ("assignments", t.assignments, "AssignmentID"))

  test("full corpus ETL matches the reference's six tables exactly") {
    assume(new java.io.File(corpus).isDirectory, "reference corpus not present")
    for ((name, df, id) <- tables(ReferenceEtl.run(spark, corpus)))
      assert(GoldenCheck.diff(name, df, s"$repo/tools/golden/$name.json", id) == 0, name)
  }

  test("fixture corpus ETL matches its committed six tables and schemas exactly") {
    // 4 rosters from perfbench/gen.py roster_corpus (seed 2, ~60 rows each):
    // the 1901 4-column layout and the plain, class-tagged and noisy-span
    // 6-column layouts, with rowspans, ditto marks and senior back-references.
    def res(rel: String) = new java.io.File(getClass.getResource(s"/etl_fixture/$rel").toURI).getPath
    val schemas = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(res("golden/schema.json")))
    for ((name, df, id) <- tables(ReferenceEtl.run(spark, res("corpus")))) {
      assert(GoldenCheck.diff(name, df, res(s"golden/$name.json"), id) == 0, name)
      assert(df.schema == DataType.fromJson(schemas.get(name).toString), name)
    }
  }

  test("E5 per-file guard: pathological single-file size fails fast, sane sizes pass") {
    val row = graft.etl.AsgRow("f.html", 0, 1901, 0, 0L, 0,
      null, null, null, null, null, null, null,
      null, null, null, null, null, null, isVacancy = false, isActing = false,
      null, null, null, null, null)
    val small = Vector.fill(3)(row)
    assert(graft.etl.ReferenceEtl.guardFileRows("f.html", small) eq small)
    val e = intercept[IllegalArgumentException] {
      // a Vector of one shared row object: large size, no real memory
      graft.etl.ReferenceEtl.guardFileRows("big.html",
        Vector.fill(graft.etl.ReferenceEtl.MaxFileRows + 1)(row))
    }
    assert(e.getMessage.contains("big.html"))
  }

  test("parquet sinks round-trip (S5-S8): partitioned fact readable with same count") {
    assume(new java.io.File(corpus).isDirectory, "reference corpus not present")
    val out = java.nio.file.Files.createTempDirectory("graft-etl-out").toString
    ReferenceEtl.writeAll(spark, corpus, out)
    val fact = spark.read.parquet(s"$out/assignments")
    assert(fact.count() == 4127)
    // Year partition pruning must reach the scan.
    val pruned = fact.where(fact("Year") === 1901)
    assert(pruned.count() == fact.where("Year = 1901").count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
