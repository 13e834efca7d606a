package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The one session recipe: the suite's own session is built from it, so
  * it must carry every conf the recipe sets, and no other main may build
  * a session of its own. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a session built from GraftSession carries every conf of the recipe, the codegen cache size through the static conf") {
    val sc = spark.sparkContext.getConf
    // TestSpark's own additions on top of the recipe
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("graft.kernel.minCorpusRows") == "0")
    // the recipe
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.get("spark.ui.enabled") == "false")
    assert(sc.get("spark.cleaner.periodicGC.interval") == "2min")
    val cacheEntries =
      spark.sessionState.conf.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES)
    assert(cacheEntries == GraftSession.CodegenCacheEntries,
      s"codegen cache holds $cacheEntries entries")
    assert(cacheEntries > StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.defaultValue.get)
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
    assert(LogManager.getLogger("org.apache.spark.rdd").getLevel == Level.ERROR)
  }

  test("one recipe: no file under src/main but GraftSession.scala builds a SparkSession") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val root = new java.io.File("src/main/scala").toPath
    assert(Files.isDirectory(root), s"source root not found: ${root.toAbsolutePath}")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 20)
    val builds = """SparkSession\s*\.\s*[bB]uilder""".r
    val offenders = sources.map(f => root.relativize(f).toString.replace('\\', '/'))
      .zip(sources)
      .collect { case (rel, f) if rel != "graft/GraftSession.scala" &&
        builds.findFirstIn(new String(Files.readAllBytes(f), "UTF-8")).nonEmpty => rel }
    assert(offenders.isEmpty, s"SparkSession built outside GraftSession: ${offenders.mkString(", ")}")
  }
}
