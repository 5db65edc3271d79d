package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
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

/** Runs queries in one engine session and prints each one's sorted rows,
  * then the scratch root: the query child JVM of [[ScratchSpec]].
  * `<dir> <query>...` runs the queries on `dir`; `subset <dir>` instead
  * replaces the dir's events and orders by their rows with an even key.
  */
object ScratchQueryChild {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("scratch-query-child")
    try args.toList match {
      case "subset" :: d :: Nil =>
        for ((t, key) <- Seq("events" -> "event_id", "orders" -> "o_orderkey")) {
          val tmp = Paths.get(d, s"_$t")
          spark.read.parquet(s"$d/$t.parquet").where(s"$key % 2 = 0").coalesce(1)
            .write.parquet(tmp.toString)
          val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get
          Files.move(part, Paths.get(d, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
          Scratch.deleteTree(tmp)
        }
      case d :: names =>
        for (n <- names) {
          val rows = SparkEntry.queries(n)(spark, d).collect().map(_.toString).sorted
          println(s"rows\t$n\t${rows.mkString(";")}")
        }
      case _ => sys.error(s"usage: <dir> <query>... | subset <dir>; got ${args.mkString(" ")}")
    } finally spark.stop()
    println(s"root=${Scratch.root}")
  }
}

/** A JVM that roots its scratch at the pid default deletes that root
  * when it exits; a root fixed with -Dgraft.scratch outlives the JVM,
  * because the DuckDB oracles read Verify's files after it exits. Every
  * file a query stages lies under that root and lives as long as the
  * session that staged it. */
class ScratchSpec extends AnyFunSuite {
  private val sf = Paths.get("/root/testdata/sf0.001")

  /** The test JVM's `--add-opens` flags, which a Spark child needs. */
  private def opens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    in.zip(in.drop(1) :+ "").collect {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", v) => Seq("--add-opens", v)
    }.flatten
  }

  /** Runs `main` in a child JVM on this JVM's classpath, in `cwd`, and
    * returns its output after it has exited with 0. */
  private def runJvm(main: String, args: Seq[String], props: Seq[String] = Nil,
                     cwd: Option[Path] = None): String = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java) ++ props ++ Seq("-cp", sys.props("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    cwd.foreach(c => pb.directory(c.toFile))
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, s"child JVM failed:\n$out")
    out
  }

  private def rootOf(out: String): String =
    out.linesIterator.collectFirst { case l if l.startsWith("root=") => l.stripPrefix("root=") }
      .getOrElse(fail(s"child JVM printed no root:\n$out"))

  /** Runs [[ScratchChild]] and returns the root it printed, after the
    * child has exited. */
  private def runChild(props: String*): String =
    rootOf(runJvm("graft.ScratchChild", Nil, "-Xmx256m" +: props))

  /** Runs `queries` on `d` in a [[ScratchQueryChild]] and returns its
    * scratch root and each query's rows. */
  private def runQueries(d: Path, queries: Seq[String],
                         cwd: Option[Path] = None): (String, Map[String, String]) = {
    val out = runJvm("graft.ScratchQueryChild", d.toString +: queries,
      opens :+ "-Xmx1g", cwd)
    val rows = out.linesIterator.collect {
      case l if l.startsWith("rows\t") => l.split("\t", 3) match {
        case Array(_, n, r) => n -> r
        case Array(_, n) => n -> ""
      }
    }.toMap
    assert(rows.keySet === queries.toSet, s"child JVM returned no rows for some query:\n$out")
    (rootOf(out), rows)
  }

  /** A private copy of sf0.001, deleted after `body`. */
  private def withInputCopy[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("scratchspec_in")
    try {
      Files.list(sf).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
      body(dir)
    } finally Scratch.deleteTree(dir)
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
    } finally Scratch.deleteTree(fixed.getParent)
  }

  test("the queries that write scratch files leave nothing behind their JVM") {
    val writers = Seq("q57_csv_roundtrip", "q57b_parquet_partitioned_sink", "q59_text_scan",
      "q91_stream_file_sink", "q92_bucketed_join", "q112_dpp_join", "q125_orc_roundtrip",
      "q192_binaryfile_scan", "q255_cbo_star_join")
    withInputCopy { d =>
      val cwd = Files.createTempDirectory("scratchspec_cwd")
      try {
        val (root, _) = runQueries(d, writers, Some(cwd))
        assert(root.matches(".*/graft_scratch_\\d+"), s"not a pid root: $root")
        assert(!Files.exists(Paths.get(root)), s"$root outlived its JVM")
        // the input dir's key under the scratch root, the name a shared
        // tmpfs root would have kept it under
        val key = Paths.get(Scratch.dir(d.toString, "x")).getParent.getFileName.toString
        val shared = Paths.get("/dev/shm/graft-io", key)
        assert(!Files.exists(shared), s"$shared outlived its JVM")
        // no catalog database or table landed in the JVM's warehouse dir
        val st = Files.walk(cwd)
        val left = try st.filter(_.getFileName.toString.startsWith("graft_")).toArray.toSeq
        finally st.close()
        assert(left.isEmpty, s"the JVM left files in its working dir: $left")
      } finally Scratch.deleteTree(cwd)
    }
  }

  test("a JVM on a changed input dir reads no layout an earlier JVM staged") {
    val staged = Seq("q112_dpp_join", "q92_bucketed_join")
    withInputCopy { d =>
      val (_, full) = runQueries(d, staged)
      runJvm("graft.ScratchQueryChild", Seq("subset", d.toString), opens :+ "-Xmx1g")
      val (_, again) = runQueries(d, staged)
      val fresh = Files.createTempDirectory("scratchspec_fresh")
      try {
        Files.list(d).forEach(f => Files.copy(f, fresh.resolve(f.getFileName)))
        val (_, expected) = runQueries(fresh, staged)
        for (q <- staged) {
          assert(expected(q) != full(q), s"$q: the subset does not change its rows")
          assert(again(q) === expected(q), s"$q on the changed dir")
        }
      } finally Scratch.deleteTree(fresh)
    }
  }
}
