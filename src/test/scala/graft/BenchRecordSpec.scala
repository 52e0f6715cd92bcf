package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The stdout bench line must survive the driver's ~2000-char suffix
  * capture on the WORST round, not the average one (ADVICE r5: r5's 56
  * failures nearly blew the line; the totals sat at the dying end).
  */
class BenchRecordSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  // a catastrophic round: 138 queries, 60 failures with long names,
  // every extra present
  private val results: Seq[BenchRecord.Result] =
    (1 to 78).map(i => (f"query_that_passed_$i%03d", 0.731, 1.402, true)) ++
      (1 to 60).map(i => (f"query_that_failed_with_long_name_$i%03d",
        0.0, 0.0, false))
  private val extras: Seq[(String, Double)] =
    (1 to 12).map(i => (f"extra_measurement_number_$i%02d_sec", 3.14159))
  private val sf = "/root/testdata/sf0.1"

  test("compact line stays far inside the 2000-char capture window") {
    val line = BenchRecord.compact(results, extras, sf)
    assert(line.length <= 1500, s"line is ${line.length} chars")
  }

  test("compact line is valid JSON with every scalar total present") {
    val node = mapper.readTree(BenchRecord.compact(results, extras, sf))
    assert(node.get("metric").asText() === "total")
    assert(node.get("unit").asText() === "sec")
    assert(node.get("n_queries").asInt() === 138)
    assert(node.get("n_failed").asInt() === 60)
    assert(node.get("value").asDouble() > 0.0)
    assert(node.get("sf").asText() === sf)
  }

  test("scalar totals sit AFTER every clamped section (suffix-capture order)") {
    val line = BenchRecord.compact(results, extras, sf)
    val lastVariable = Seq("\"queries\":", "\"extras\":", "\"failed\":")
      .map(line.indexOf).max
    val firstTotal = Seq("\"metric\":", "\"n_queries\":", "\"n_failed\":",
      "\"value\":").map(line.indexOf).min
    assert(firstTotal > lastVariable,
      "a truncated front must never cost the totals")
  }

  test("even the truncated SUFFIX of a hypothetical overlong line keeps totals") {
    // simulate the driver's capture: keep only the last 300 chars —
    // far harsher than reality — and the totals must all be inside
    val line = BenchRecord.compact(results, extras, sf)
    val tail = line.takeRight(300)
    Seq("\"n_queries\":138", "\"n_failed\":60", "\"value\":", "\"metric\":\"total\"")
      .foreach(s => assert(tail.contains(s), s"$s not in last 300 chars"))
  }

  test("the run contract, proxies and retry fields lead the extras and " +
      "all survive the stdout clamp") {
    val head = BenchRecord.headExtras(cpus = 32, defaultParallelism = 32,
      serialProxy = 1.874, parallelProxies = (12.531, 13.208, 14.977),
      retries = 25, retryScale = Some((0.8, true)))
    val keys = Seq("cpus", "default_parallelism", "host_serial_proxy_sec",
      "host_parallel_proxy_sec", "host_parallel_proxy_mid_sec",
      "host_parallel_proxy_close_sec", "outlier_retries", "retry_scale",
      "retry_scale_floored")
    assert(head.map(_._1) === keys)
    val line = BenchRecord.compact(results, head ++ extras, sf)
    val ex = mapper.readTree(line).get("extras")
    keys.foreach(k => assert(ex.has(k), s"$k clamped out of $line"))
    assert(ex.get("cpus").asInt() === 32)
    assert(ex.get("default_parallelism").asInt() === 32)
    assert(ex.get("outlier_retries").asInt() === 25)
    assert(ex.get("retry_scale_floored").asDouble() === 1.0)
    // no same-sf reference: the two retry_scale fields are absent
    assert(BenchRecord.headExtras(4, 4, 2.0, (9.0, 9.5, 9.9), 0, None)
      .map(_._1) === keys.take(7))
  }

  test("full record carries the complete failed list and both query maps") {
    val node = mapper.readTree(BenchRecord.full(results, extras, sf))
    assert(node.get("failed").size() === 60)
    assert(node.get("queries").size() === 138)
    assert(node.get("queries_cold").size() === 138)
    assert(node.get("extras").size() === 12)
    assert(node.get("n_queries").asInt() === 138)
  }

  test("full record: the retried map carries BOTH attempts per query " +
      "(r13 — a bare count let the best-of-attempts policy read as " +
      "engine speedup) and defaults to empty") {
    val withRetries = BenchRecord.full(results, extras, sf,
      Seq(("q_a", 4.5, 3.2), ("q_b", 0.61, 0.73)))
    val node = mapper.readTree(withRetries)
    val rt = node.get("retried")
    assert(rt.size() === 2)
    assert(rt.get("q_a").get("first").asDouble() === 4.5)
    assert(rt.get("q_a").get("retry").asDouble() === 3.2)
    assert(rt.get("q_b").get("retry").asDouble() === 0.73)
    // pre-retry sitting is reconstructible: committed value for q_a is
    // min(first, retry); substituting `first` back recovers the
    // single-shot number
    assert(math.min(rt.get("q_a").get("first").asDouble(),
      rt.get("q_a").get("retry").asDouble()) === 3.2)
    // no-retry records keep the field (empty object), so readers can
    // rely on its presence
    val none = mapper.readTree(BenchRecord.full(results, extras, sf))
    assert(none.get("retried") != null && none.get("retried").size() === 0)
  }

  test("round-wrapper shape: the full record nests under 'parsed' intact") {
    // the driver wraps the stdout record as {"n":…,"rc":…,"parsed":{…}}
    // in BENCH_rNN.json; compare_bench.py unwraps exactly this shape —
    // pin the contract so a record change that breaks nesting fails here
    val inner = BenchRecord.full(results, extras, sf)
    val wrapper = s"""{"n":1,"rc":0,"cpus":"32","sf":"$sf",""" +
      s""""tail":"…","parsed":$inner}"""
    val node = mapper.readTree(wrapper)
    assert(node.get("parsed").get("queries").size() === 138)
    assert(node.get("parsed").get("failed").size() === 60)
    assert(node.get("parsed").get("extras").size() === 12)
  }

  test("property: ANY inventory shape yields bounded, parseable records") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val nameGen = Gen.alphaLowerStr.map(_.take(40)).suchThat(_.nonEmpty)
    val resultGen = for {
      n <- nameGen
      t <- Gen.choose(0.0, 1e4)
      ok <- Gen.oneOf(true, false)
    } yield (n, if (ok) t else 0.0, t, ok)
    val listGen = Gen.choose(0, 200).flatMap(Gen.listOfN(_, resultGen))
    val prop = Prop.forAll(listGen) { rs =>
      val line = BenchRecord.compact(rs, extras, sf)
      val node = mapper.readTree(line) // throws on malformed JSON
      line.length <= 1600 &&
        node.get("n_queries").asInt() == rs.size &&
        node.get("n_failed").asInt() == rs.count(!_._4) &&
        line.takeRight(300).contains("\"value\":")
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(result.passed, result.status.toString)
  }
}
