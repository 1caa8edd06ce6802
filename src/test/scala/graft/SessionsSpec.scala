package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every session is built through [[Sessions]], so the local conf has one
  * definition. */
class SessionsSpec extends AnyFunSuite {

  test("the test session is the Sessions conf on a fixed 4 cores") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("SparkSession.builder is called in src/main only inside Sessions") {
    def sources(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val builders = sources("src/main/scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString)
    assert(builders == Seq("Sessions.scala"))
    val testSession = Files.readString(Paths.get("src/test/scala/graft/TestSpark.scala"))
    assert(testSession.contains("Sessions.builder(4)") &&
      !testSession.contains("SparkSession.builder"))
  }
}
