package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness gate must fail LOUD: a broken query has to turn
  * its CORRECTNESS row red (an `__error` parquet the oracle compare
  * can't match) and land in verify_errors.json — not vanish from the
  * output set (the round-2..5 silent-swallow quirk). */
class VerifySpec extends SparkSpec {

  test("a throwing query writes an __error row and a verify_errors.json entry") {
    val out = tmpDir("verify-err")
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("forced failure")
    val err = Verify.runOne(spark, "q999_boom", boom, "/nonexistent", out)
    assert(err.exists(_._1 == "q999_boom"))
    assert(err.exists(_._2.contains("forced failure")))

    // The red row: a 1-row __error frame under the query's path, so
    // the driver's DuckDB compare sees a schema/hash mismatch.
    val red = spark.read.parquet(s"$out/q999_boom")
    assert(red.columns.toSeq === Seq("__error"))
    assert(red.count() === 1)

    Verify.writeErrors(spark, out, err.toSeq)
    val json = Files.readString(Paths.get(s"$out/verify_errors.json"))
    assert(json.contains("\"q999_boom\""))
    assert(json.contains("\"err\""))
    assert(json.contains("forced failure"))
  }

  test("a clean run writes an empty verify_errors.json (presence = completion)") {
    val out = tmpDir("verify-clean")
    Verify.writeErrors(spark, out, Nil)
    assert(Files.readString(Paths.get(s"$out/verify_errors.json")) === "{}")
  }

  test("both JSON files carry quotes, backslashes and control characters intact") {
    val out = tmpDir("verify-escape")
    val key = "q1\"\\\t\r\n\u0001k"
    val sql = "SELECT '\"', '\\', '\t', '\r', '\n', '\u0001'"
    Verify.writeOracleSql(out, Seq(key -> sql))
    Verify.writeErrors(spark, out, Seq(key -> sql))
    def read(file: String) = new ObjectMapper().readValue(
      Files.readString(Paths.get(s"$out/$file")), classOf[java.util.Map[_, _]])
    assert(read("oracle_sql.json") == java.util.Map.of(key, sql))
    assert(read("verify_errors.json") == java.util.Map.of(key, java.util.Map.of("err", sql)))
  }
}
