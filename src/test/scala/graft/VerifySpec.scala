package graft

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[Verify.oracleJson]]: a strict JSON reader gets back exactly the
  * registry's oracle text from `oracle_sql.json`. */
class VerifySpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper()
      .readValue(json, new TypeReference[java.util.Map[String, String]] {})
      .asScala.toMap

  test("oracle_sql.json parses back to SparkEntry.oracleSql for every key") {
    assert(SparkEntry.oracleSql.size === 388)
    assert(parse(Verify.oracleJson(SparkEntry.oracleSql)) === SparkEntry.oracleSql)
  }

  test("oracle_sql.json escapes quote, backslash and every control char") {
    val odd = (0 until 0x20).map { c =>
      s"k_${c}_${c.toChar}" -> s"""SELECT '${c.toChar}' AS "q\\", '\t\r' AS x"""
    }.toMap
    val oracles = SparkEntry.oracleSql ++ odd
    assert(parse(Verify.oracleJson(oracles)) === oracles)
    // the reader is strict: an unescaped control char would not parse
    intercept[JsonProcessingException](parse("{\"k\": \"a\tb\"}"))
  }
}
