package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One mechanism for native scalars: a kernel is a static method plus one
  * declaration in `graft.functions.Kernels`, planned as a `StaticInvoke`
  * inside whole-stage codegen. A hand-written Catalyst expression class (or
  * a `CodegenFallback`, which takes its whole stage out of codegen) in main
  * source fails this spec unless its row below says why a declaration
  * cannot express it. The gate counts code only; comments are stripped. */
class ExpressionClassLintSpec extends AnyFunSuite {

  // file -> (allowed expression-class / CodegenFallback sites, why)
  private val allowed: Map[String, (Int, String)] = Map(
    "graft/functions/UnigramNative.scala" -> (2,
      "UnigramEncode (UnaryExpression with CodegenFallback): carries the " +
        "driver-built piece vocabulary Map, which has no literal form with " +
        "the same hash-lookup cost"),
    "graft/functions/ImageNative.scala" -> (1,
      "MaterializeImages (extends Expression): 13 children whose NULLs are " +
        "data (no before image on an insert) rather than a NULL result, " +
        "plus the driver-side ImageSteps settings")
  )

  private val site =
    raw"\b(extends|with)\s+((Leaf|Unary|Binary|Ternary|Quaternary)?Expression|CodegenFallback)\b".r
  private val comments = raw"(?s)/\*.*?\*/|//[^\n]*".r

  test("no hand-written scalar expression class outside the allowlist") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val found =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map { p =>
          val code = comments.replaceAllIn(Files.readString(p), "")
          root.relativize(p).toString -> site.findAllIn(code).length
        }
        .filter(_._2 > 0)
        .toMap
      finally walk.close()
    assert(found.nonEmpty, "the scan found no site at all - wrong root?")
    val over = found.collect {
      case (f, n) if n > allowed.get(f).map(_._1).getOrElse(0) =>
        s"$f: $n expression-class sites > allowed " +
          s"${allowed.get(f).map(_._1).getOrElse(0)} - declare the kernel in " +
          "graft.functions.Kernels, or add a row saying why it cannot be"
    }
    assert(over.isEmpty, over.mkString("; "))
    val stale = allowed.collect {
      case (f, (n, _)) if found.getOrElse(f, 0) < n =>
        s"$f: allowlist says $n but source has ${found.getOrElse(f, 0)}"
    }
    assert(stale.isEmpty, stale.mkString("; "))
  }
}
