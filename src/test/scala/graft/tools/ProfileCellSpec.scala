package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{SparkEntry, SparkSpec}

class ProfileCellSpec extends SparkSpec {

  test("a trailing flag without its value is a usage error") {
    // the unknown query name would fail only after a session starts, so
    // getting the flag error shows it is raised before that
    for (flag <- Seq("--repeat", "--plans", "--suffix", "--dump")) {
      val e = intercept[RuntimeException](
        ProfileCell.main(Array("/no/such/sf", "no_such_query", flag)))
      assert(e.getMessage == s"$flag requires a value")
    }
  }

  test("--dump writes the cell's parquet and exactly its oracle SQL") {
    // the session-taking dump, not main: main stops the shared test session
    val out = Files.createTempDirectory("profile-dump").toString
    ProfileCell.dump(spark, sf001, Seq("bronze_extract_day"), out)
    val expected = SparkEntry.queries("bronze_extract_day")(spark, sf001)
    val written = spark.read.parquet(s"$out/bronze_extract_day")
    assert(written.count() > 0)
    assert(written.schema.map(f => f.name -> f.dataType) ==
      expected.schema.map(f => f.name -> f.dataType))
    assert(written.exceptAll(expected).isEmpty && expected.exceptAll(written).isEmpty)
    val oracle = new ObjectMapper().readTree(Files.readString(Paths.get(s"$out/oracle_sql.json")))
    assert(oracle.fieldNames().asScala.toSeq == Seq("bronze_extract_day"))
    assert(oracle.get("bronze_extract_day").asText == SparkEntry.oracleSql("bronze_extract_day"))
  }
}
