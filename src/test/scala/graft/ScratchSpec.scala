package graft

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** The per-process scratch root behind [[GraftSession.scratch]]: one
  * directory per JVM, stable names inside it, gone when the JVM exits. */
class ScratchSpec extends AnyFunSuite {

  private def rootOf(dir: String): Path = Paths.get(dir).getParent

  test("the same name gives the same directory, under one graft_ root in the temp dir") {
    val a = GraftSession.scratch("spec_same")
    assert(GraftSession.scratch("spec_same") == a)
    assert(Files.isDirectory(Paths.get(a)))
    val root = rootOf(a)
    assert(rootOf(GraftSession.scratch("warehouse")) == root)
    assert(root.getFileName.toString.startsWith("graft_"))
    assert(root.getParent == Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath)
  }

  test("a second JVM gets its own root, and the root is gone once that JVM exits") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(java, "-cp", System.getProperty("java.class.path"),
        ScratchChild.getClass.getName.stripSuffix("$"))
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    try {
      val out = new BufferedReader(new InputStreamReader(child.getInputStream))
      val root = Paths.get(out.readLine())
      assert(Files.readString(root.resolve("x/probe.txt")) == "written by the child")
      assert(root != rootOf(GraftSession.scratch("x")))
      child.getOutputStream.close() // lets the child exit
      assert(child.waitFor(60, TimeUnit.SECONDS), "child JVM did not exit")
      assert(child.exitValue == 0)
      assert(!Files.exists(root), s"$root outlived its JVM")
    } finally child.destroyForcibly()
  }
}

/** Child JVM for [[ScratchSpec]]: writes a file under `scratch("x")`,
  * prints the scratch root, and exits once its stdin closes. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val x = Paths.get(GraftSession.scratch("x"))
    Files.writeString(x.resolve("probe.txt"), "written by the child")
    println(x.getParent)
    System.out.flush()
    while (System.in.read() >= 0) ()
  }
}
