package graft

import graft.functions.{PiiProcessExpression, Pinned, StaticKernel}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One kernel form: a per-row kernel is a static method behind
  * [[StaticKernel]], never a hand-written Catalyst expression class. Walks
  * every compiled main class (loaded without running static initializers)
  * and fails on an interpreted-only (`CodegenFallback`) class or on an
  * expression class outside the allowed list. */
class OneKernelFormSpec extends AnyFunSuite {

  /** The expression classes the engine keeps, with the reason. */
  private val allowed: Map[Class[_], String] = Map(
    classOf[StaticKernel] -> "the carrier every per-row kernel is built with",
    classOf[Pinned] -> "the one non-determinism pin (evaluate once per row)",
    classOf[PiiProcessExpression] ->
      "perfbench's trace finds the detector's projection by matching this class")

  private lazy val mainClasses: Seq[Class[_]] = {
    val root = Paths.get(classOf[StaticKernel].getProtectionDomain.getCodeSource.getLocation.toURI)
    val loader = getClass.getClassLoader
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".class")).toList.map { f: Path =>
      val name = root.relativize(f).toString.stripSuffix(".class").replace(java.io.File.separatorChar, '.')
      Class.forName(name, false, loader)
    } finally files.close()
  }

  test("the walk sees the kernels") {
    assert(mainClasses.exists(_.getName == "graft.functions.MinHashSignatures$"))
    assert(mainClasses.size > 100)
  }

  test("no main class is interpreted-only (CodegenFallback)") {
    val fallback = mainClasses.filter(classOf[CodegenFallback].isAssignableFrom)
    assert(fallback.isEmpty, fallback.map(_.getName).mkString(", "))
  }

  test("the only expression classes are StaticKernel, Pinned and PiiProcessExpression") {
    val extra = mainClasses.filter(c =>
      classOf[Expression].isAssignableFrom(c) && !allowed.contains(c))
    assert(extra.isEmpty, s"per-row kernels belong behind StaticKernel: ${extra.map(_.getName).mkString(", ")}")
  }
}
