package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the loop and session forks from growing back: each policy has
  * one owning file, and a copy of it anywhere else fails here, naming
  * the file. A plain text scan of the sources — no Spark.
  *   - `core/Fixpoint.scala` owns checkpointing and the loop-scoped
  *     shuffle width / AQE toggle (every iterative operator runs on
  *     [[graft.core.Fixpoint.iterate]]);
  *   - `GraftSession.scala` owns building a SparkSession, for mains and
  *     specs alike. */
class StructureSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[(String, String)] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => base.relativize(p).toString -> Files.readString(p))
      .sortBy(_._1)
    finally walk.close()
  }

  /** Files under `root` other than `owner` for which `hit` holds; the
    * owner itself must hit, so the rule cannot pass vacuously. */
  private def offenders(root: String, owner: String)(hit: String => Boolean): Seq[String] = {
    val files = scalaFiles(root)
    assert(files.exists { case (p, text) => p.endsWith(owner) && hit(text) },
      s"$owner under $root no longer holds the construct it owns")
    files.collect { case (p, text) if !p.endsWith(owner) && hit(text) => p }
  }

  private val loopConfKeys =
    Seq("\"spark.sql.shuffle.partitions\"", "\"spark.sql.adaptive.enabled\"")

  test("only core/Fixpoint.scala checkpoints") {
    val bad = offenders("src/main/scala", "graft/core/Fixpoint.scala")(
      _.contains("localCheckpoint("))
    assert(bad.isEmpty, s"localCheckpoint( outside core/Fixpoint.scala: ${bad.mkString(", ")}")
  }

  test("only core/Fixpoint.scala sets the shuffle width or AQE on a live session") {
    val bad = offenders("src/main/scala", "graft/core/Fixpoint.scala")(text =>
      text.contains(".set(") && loopConfKeys.exists(text.contains))
    assert(bad.isEmpty,
      s"shuffle width / AQE set outside core/Fixpoint.scala: ${bad.mkString(", ")}")
  }

  test("only GraftSession builds a SparkSession") {
    // split so this spec's own text is not a match
    val builder = "SparkSession." + "builder()"
    val bad = offenders("src", "graft/GraftSession.scala")(_.contains(builder))
    assert(bad.isEmpty, s"$builder outside GraftSession: ${bad.mkString(", ")}")
  }
}
