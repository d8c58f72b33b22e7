package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench reads its per-query seconds back from two writers: Python's
  * `json.dump` (tools/record_baseline.py, `"queries": {`) and Bench's
  * own compact line (`"queries":{`). */
class BenchSpec extends AnyFunSuite {

  test("queriesMap reads both artifact spacings") {
    val spaced = """{"metric": "total", "cpus": "4", "queries": """ +
      """{"agg_hhi": 0.46, "fn_gst": -1.5e-1}, "rows_out": {"agg_hhi": 7}}"""
    val compact = """{"metric":"total","cpus":"4","queries":""" +
      """{"agg_hhi":0.46,"fn_gst":-1.5e-1},"rows_out":{"agg_hhi":7}}"""
    val want = Map("agg_hhi" -> 0.46, "fn_gst" -> -0.15)
    assert(Bench.queriesMap(spaced) == want)
    assert(Bench.queriesMap(compact) == want)
    assert(Bench.queriesMap("""{"metric":"total"}""").isEmpty)
  }

  test("jstr keeps an error message valid JSON: control chars, quotes, backslashes") {
    val msg = "boom\u0001 \"quoted\" C:\\tmp \u001f"
    val obj = "{\"q\":" + Bench.jstr(msg) + "}"
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readTree(obj)
    assert(back.get("q").asText == msg)
  }
}
