package graft

import graft.functions.GraftFunctions

import org.apache.spark.sql.catalyst.FunctionIdentifier

class GraftExtensionsSpec extends SparkTestBase {

  test("every function register installs resolves in an extensions-only session") {
    val registered = spark.newSession()
    GraftFunctions.register(registered)
    val reg = registered.sessionState.functionRegistry
    val installed = reg.listFunction()
      .filter(id => reg.lookupFunction(id).exists(_.getSource == "scala_udf"))
      .map(_.funcName)
    assert(installed.contains("appx_median_bounded"))
    // a fresh session of the same context: extensions only, no register
    val extOnly = spark.newSession().sessionState.functionRegistry
    val missing = installed.filterNot(n => extOnly.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected by GraftExtensions: ${missing.mkString(",")}")
  }
}
