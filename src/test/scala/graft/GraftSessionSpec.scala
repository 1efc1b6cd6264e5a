package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[GraftSession]] is the one session builder: the settings of the
  * session it built for the suite, the cores default, and a source scan
  * that keeps hand-rolled builders from growing back in `src/main`.
  */
class GraftSessionSpec extends SparkSpec {

  test("the suite's session is built by GraftSession.local(4)") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("cpus() reads SPARK_GRAFT_CPUS and falls back to every core") {
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "6").get) == 6)
    assert(GraftSession.cpus(_ => None) == Runtime.getRuntime.availableProcessors)
  }

  test("no file under src/main/scala builds a session but GraftSession.scala") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("GraftSession.scala")))
    val builders = files.filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"), s"hand-rolled session builders: $builders")
  }
}
