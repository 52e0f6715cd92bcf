package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The public extension-injection route
  * (`spark.sql.extensions=graft.functions.GraftExtensions`): all native
  * functions land in the registry and the top-k rewrite rule is among
  * the injected optimizer rules. (Lives under o.a.s.sql to reach the
  * `private[sql]` builder methods the session would call.)
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("injects every native function and the topk optimizer rule") {
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)

    val reg = ext.registerFunctions(FunctionRegistry.builtin.clone())
    Seq("graft_dot", "graft_cosine", "graft_topk", "graft_simhash",
      "graft_minhash", "graft_shingles", "graft_min_shingle_md5",
      "graft_vecsum", "graft_to_avro", "graft_from_avro").foreach { f =>
      assert(reg.functionExists(FunctionIdentifier(f)), s"missing $f")
    }

    val rules = ext.buildOptimizerRules(SparkSpec.session)
    assert(rules.contains(TopKRewriteRule), "topk rewrite rule not injected")
  }

  test("Native.install and the extension expose the same functions") {
    def graftNames(reg: FunctionRegistry): Set[String] =
      reg.listFunction().map(_.funcName).filter(_.startsWith("graft_")).toSet
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    val injected = graftNames(
      ext.registerFunctions(FunctionRegistry.builtin.clone()))
    val session = SparkSpec.session.newSession()
    Native.install(session)
    val installed = graftNames(session.sessionState.functionRegistry)
    assert(installed === injected)
    assert(Set("graft_to_avro", "graft_from_avro").subsetOf(installed))
  }
}
