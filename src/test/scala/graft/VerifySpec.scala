package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("dump writes every other entry and lists only the throwing name") {
    val out = Scratch.dir("verify-spec")
    val real = SparkEntry.registry.filter(q => Set("q_idf", "q_docfreq")(q.name))
    val boom = SparkEntry.Q("q_boom",
      (_, _) => throw new IllegalStateException("boom"), None)
    val failures = Verify.dump(TestSpark.spark, TestSpark.Sf, out, real :+ boom)

    assert(failures == Seq("q_boom"))
    assert(Files.readAllLines(Paths.get(out, "failures.txt")).asScala == Seq("q_boom"))
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(out, "oracle_sql.json").toFile)
    assert(oracle.fieldNames.asScala.toSet == Set("q_idf", "q_docfreq"))
    for (n <- Seq("q_idf", "q_docfreq"))
      assert(new java.io.File(out, n).listFiles().exists(_.getName.endsWith(".parquet")), n)
  }
}
