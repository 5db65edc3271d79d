package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Writes one file under [[Scratch.root]] and prints the root: the
  * child JVM of [[ScratchSpec]]. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val f = Paths.get(Scratch.root, "probe", "x.txt")
    Files.createDirectories(f.getParent)
    Files.writeString(f, "x")
    println(s"root=${Scratch.root}")
  }
}

/** A JVM that roots its scratch at the pid default deletes that root
  * when it exits; a root fixed with -Dgraft.scratch outlives the JVM,
  * because the DuckDB oracles read Verify's files after it exits. */
class ScratchSpec extends AnyFunSuite {

  /** Runs [[ScratchChild]] on this JVM's classpath and returns the root
    * it printed, after the child has exited. */
  private def runChild(props: String*): String = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx256m") ++ props ++
      Seq("-cp", sys.props("java.class.path"), "graft.ScratchChild")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, s"child JVM failed:\n$out")
    out.linesIterator.collectFirst { case l if l.startsWith("root=") => l.stripPrefix("root=") }
      .getOrElse(fail(s"child JVM printed no root:\n$out"))
  }

  test("a pid scratch root is deleted when its JVM exits") {
    val root = runChild()
    assert(root.matches(".*/graft_scratch_\\d+"), s"not a pid root: $root")
    assert(!Files.exists(Paths.get(root)), s"$root outlived its JVM")
  }

  test("a -Dgraft.scratch root outlives its JVM") {
    val fixed = Files.createTempDirectory("scratchspec").resolve("root")
    try {
      assert(runChild(s"-Dgraft.scratch=$fixed") === fixed.toString)
      assert(Files.exists(fixed.resolve("probe").resolve("x.txt")))
    } finally graft.streaming.Streaming.deleteTree(fixed.getParent)
  }
}
