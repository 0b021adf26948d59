package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the set of runnable mains in the library sources. ROADMAP's north
  * star: "One-off probes, per-round plan-diff mains and dead fallbacks are
  * code to delete. The measured evidence they produced stays in
  * `OPTIMIZATION_r*.md` and `NOTES.md`." So a new dev tool in `src/main`
  * has to be added here on purpose, and the diff of this test shows it.
  */
class MainsSpec extends AnyFunSuite {

  test("the only mains in src/main are Bench, RefBench, Verify and PlanDump") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val files = Files.walk(root)
    val mains = try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("def main("))
      .map((p: Path) => p.getFileName.toString.stripSuffix(".scala"))
      .toSet
    finally files.close()
    assert(mains === Set("Bench", "RefBench", "Verify", "PlanDump"))
  }
}
