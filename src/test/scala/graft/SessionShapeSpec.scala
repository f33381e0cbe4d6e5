package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan that keeps one session shape: `graft.Session` (core.scala)
  * is the only `SparkSession.builder` under `src/main/scala`, and the
  * program reads no environment variable or system property beyond an
  * explicit allowlist — so no main can drift to its own partition count,
  * extension set or time zone, and no hidden knob can change what a
  * measured run does.
  */
class SessionShapeSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  /** file → the keys it may read from `sys.env` / `sys.props`. */
  private val allowed: Map[String, Set[String]] = Map(
    "graft/Bench.scala" -> Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY",
      "SPARK_GRAFT_RETIME_K", "SPARK_GRAFT_PRIOR_PINS"),
    "graft/core.scala" -> Set("SPARK_GRAFT_CPUS"),
    "graft/ext/Multimodal.scala" -> Set("java.io.tmpdir"),
  )

  test("graft.Session is the only SparkSession builder in src/main") {
    val builders = sources.flatMap { case (f, src) =>
      "SparkSession\\s*\\.\\s*builder".r.findAllMatchIn(src).map(_ => f)
    }
    assert(builders == Seq("graft/core.scala"))
  }

  test("src/main reads only allowlisted env variables and properties") {
    val access = "\\b(?:sys\\s*\\.\\s*(?:env|props)|System\\s*\\.\\s*(?:getenv|getPropert(?:y|ies)))\\b".r
    val keyed = ("(?:sys\\s*\\.\\s*(?:env|props)(?:\\s*\\.\\s*(?:get|getOrElse|contains|apply))?" +
      "|System\\s*\\.\\s*(?:getenv|getProperty))\\s*\\(\\s*\"([^\"]+)\"").r
    val findings = sources.flatMap { case (f, src) =>
      access.findAllMatchIn(src).map { m =>
        keyed.findPrefixMatchOf(src.substring(m.start)) match {
          case Some(k) if allowed.getOrElse(f, Set.empty)(k.group(1)) => None
          case Some(k) => Some(s"$f reads ${k.group(1)}")
          case None => Some(s"$f: unkeyed read at offset ${m.start}")
        }
      }.flatten
    }
    assert(findings.isEmpty, findings.mkString("\n"))
  }
}
