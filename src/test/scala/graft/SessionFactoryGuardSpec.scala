package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session factory: every harness builds its session through
  * `Graft.session`, so the plans and timings it reports come from the
  * configuration the library ships. The only other builder is
  * `SparkSpec.session`, which specs need without graft installed.
  */
class SessionFactoryGuardSpec extends AnyFunSuite {

  private val allowed = Set("Graft.scala", "SparkSpec.scala")
  // assembled so this file does not match itself
  private val builderCall = ("SparkSession" + """\s*\.\s*builder""").r

  test("a session builder appears only in Graft.scala and SparkSpec.scala") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val sources: Seq[Path] = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.getFileName.toString == "Graft.scala"))
    val offenders = sources.filter { p =>
      !allowed.contains(p.getFileName.toString) &&
        builderCall.findFirstIn(Files.readString(p)).isDefined
    }
    assert(offenders.isEmpty,
      s"build sessions through Graft.session, not a builder: ${offenders.mkString(", ")}")
  }
}
