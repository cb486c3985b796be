package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession is the only session factory, so the oracle dump, the
  * bench, the dev mains and the tests all plan queries under one conf. */
class GraftSessionSpec extends AnyFunSuite {

  test("no source file other than GraftSession builds its own session") {
    import scala.jdk.CollectionConverters._
    val direct = """SparkSession\s*\.\s*builder""".r
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src")).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter(p => direct.findFirstIn(java.nio.file.Files.readString(p)).nonEmpty)
      .toList
    assert(offenders.isEmpty)
  }

  test("the test session runs with every conf of the factory's table") {
    for ((k, v) <- GraftSession.confs)
      assert(TestSpark.spark.conf.get(k) === v, k)
  }

  test("a numeric env knob is its default when unset and must be a positive finite number") {
    def cpus(env: (String, String)*) =
      GraftSession.positiveKnob(env.toMap, "SPARK_GRAFT_CPUS", 4)
    assert(cpus() === 4)
    assert(cpus("SPARK_GRAFT_CPUS" -> " 8 ") === 8)
    for (bad <- Seq("abc", "", "0", "-5", "2.5"))
      assert(intercept[IllegalArgumentException](cpus("SPARK_GRAFT_CPUS" -> bad))
        .getMessage.contains("SPARK_GRAFT_CPUS"), bad)
  }
}
