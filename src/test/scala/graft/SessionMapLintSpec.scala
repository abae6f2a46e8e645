package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the one-session-memo design: session-keyed state
  * lives in [[Caches.memo]], where [[Caches.clearAll]] and
  * [[Caches.invalidate]] reach it and stopped sessions are swept. A
  * hand-rolled `ConcurrentHashMap[` / `WeakHashMap[` / `TrieMap[` whose
  * type mentions `SparkSession` anywhere else in `src/main` is a memo
  * those hooks cannot see — seven of them once did exactly that.
  *
  * The type argument list is read with a balanced-bracket scan, so a
  * key tuple spread over several lines is still caught.
  */
class SessionMapLintSpec extends AnyFunSuite {

  private val MapType = "(?:ConcurrentHashMap|WeakHashMap|TrieMap)\\[".r

  /** Type argument lists of the map types in `src` that mention
    * `SparkSession`. */
  private def lint(src: String): Seq[String] =
    MapType.findAllMatchIn(src).flatMap { m =>
      var i = m.end
      var depth = 1
      while (i < src.length && depth > 0) {
        src(i) match {
          case '[' => depth += 1
          case ']' => depth -= 1
          case _ =>
        }
        i += 1
      }
      val targs = src.substring(m.start, i)
      if (targs.contains("SparkSession")) Some(targs.replaceAll("\\s+", " "))
      else None
    }.toSeq

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no session-keyed map in src/main outside Caches.scala") {
    val files = mainSources
    assert(files.exists(_.getFileName.toString == "Caches.scala"))
    val bad = files.filterNot(_.getFileName.toString == "Caches.scala")
      .flatMap(f => lint(Files.readString(f)).map(t => s"$f: $t"))
    assert(bad.isEmpty,
      "session-keyed map outside graft.Caches (use Caches.memo):\n" +
        bad.mkString("\n"))
  }

  test("red team: seeded session maps are caught, one-line and multi-line") {
    val oneLine =
      "private val c = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]"
    assert(lint(oneLine).size == 1)
    val multiLine =
      """private val m =
        |  new java.util.concurrent.ConcurrentHashMap[
        |    (org.apache.spark.sql.SparkSession,
        |      LogicalPlan, String),
        |    java.lang.Double]""".stripMargin
    assert(lint(multiLine).size == 1)
    val nested =
      "new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]]()"
    assert(lint(nested).size == 1, "the outer map is the violation")
  }

  test("red team: maps not keyed by session pass") {
    assert(lint("val m = new ConcurrentHashMap[String, Long]()").isEmpty)
    assert(lint("val t = TrieMap[Int, Seq[String]]()").isEmpty)
  }
}
