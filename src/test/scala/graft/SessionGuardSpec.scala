package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Source guards for the single-session rule: every session comes from
  * [[Session.build]], and the library reads no `graft.*` conf key that
  * is not listed here.
  */
class SessionGuardSpec extends AnyFunSuite {

  /** The conf keys `src/main` may read. Each one is a test seam: a spec
    * sets it to reach a limit or width that real inputs only reach at
    * scale. A new key needs a recorded A/B before it joins this list;
    * a knob without one ships as the one measured path instead. */
  private val allowedConfKeys = Set(
    "graft.values.broadcastLimit",
    "graft.rdfs.maxSchemaTriples",
    "spark.graft.stream.statePartitions",
    "spark.graft.tombstoneBloom.minBytes",
    "spark.graft.responseBody.maxRows")

  private def sources(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList)
  }

  test("SparkSession builder appears only in graft/Session.scala") {
    val builder = "SparkSession\\.builder".r
    val sites = sources("src")
      .filter { case (_, text) => builder.findFirstIn(text).isDefined }
      .map(_._1.toString)
    assert(sites == Seq(Paths.get("src/main/scala/graft/Session.scala").toString))
  }

  test("src/main reads only allow-listed graft.* conf keys") {
    val key = "\"((?:spark\\.)?graft\\.[A-Za-z0-9_.]+)\"".r
    val unlisted = sources("src/main").flatMap { case (p, text) =>
      key.findAllMatchIn(text).map(_.group(1))
        .filterNot(allowedConfKeys).map(k => s"$p: $k")
    }
    assert(unlisted.isEmpty)
  }
}
