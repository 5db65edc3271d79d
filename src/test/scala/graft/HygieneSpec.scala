package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree hygiene, enforced by the suite itself.
  *
  * Rounds 15 and 16 each shipped a dev scratch file into src/main whose
  * own header said it would be deleted before commit (`ScratchAB.scala`,
  * then `ProbeQ04.scala` — VERDICT r15/r16 "What's wrong" #1). Prose
  * conventions don't survive end-of-round snapshots; a failing test
  * does. Any file under src/main declaring itself scratch/pre-commit
  * fails the suite, so the snapshot can't be green with one present.
  */
class HygieneSpec extends AnyFunSuite {

  private def mainSources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
  }

  test("no self-declared scratch files in src/main") {
    val markers = Seq("deleted before commit", "Scratch probe", "DO NOT COMMIT")
    val offenders = mainSources.flatMap { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      markers.collectFirst {
        case m if txt.toLowerCase.contains(m.toLowerCase) => s"${f.getPath} (contains '$m')"
      }
    }
    assert(offenders.isEmpty,
      s"scratch files committed to src/main — run their mandate, commit the " +
      s"evidence, and delete them:\n  ${offenders.mkString("\n  ")}")
  }

  /** (file, 1-based line number, line) of every code line — Scaladoc
    * and `//` comment lines dropped, trailing `//` comments cut. */
  private def codeLines(files: Seq[java.io.File]): Seq[(java.io.File, Int, String)] =
    files.flatMap { f =>
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").split("\n")
      lines.zipWithIndex.collect {
        case (l, i) if !Seq("*", "/*", "//").exists(l.trim.startsWith) =>
          (f, i + 1, l.replaceAll("\\s//.*$", ""))
      }
    }

  test("streaming reads no environment variable but GRAFT_STREAM_PARTITIONS") {
    // a finite stream runs one way: no env-selected drain or state-store
    // fork may come back into the streaming package
    val read = "(sys\\.env|System\\.getenv)".r
    val allowed = "(sys\\.env|System\\.getenv)[.\\w]*\\(\\s*\"GRAFT_STREAM_PARTITIONS\"".r
    val offenders = codeLines(mainSources.filter(_.getPath.contains("graft/streaming/")))
      .collect { case (f, n, l) if read.findAllMatchIn(l).size >
          allowed.findAllMatchIn(l).size => s"${f.getPath}:$n: ${l.trim}" }
    assert(offenders.isEmpty,
      s"streaming code reads an environment variable:\n  ${offenders.mkString("\n  ")}")
  }

  /** Every code line of src/main that holds `word` outside the allowed
    * (file suffix, owner) pairs, where a line's owner is the nearest
    * `def` or query name above it. */
  private def strayUses(word: String, allowed: Set[(String, String)]): Seq[String] = {
    val anchor = """\bdef (\w+)|^\s*(?:QueryDef(?:\.noOracle)?\()?"(q\d+_\w+)"""".r
    mainSources.flatMap { f =>
      val lines = codeLines(Seq(f))
      lines.collect { case (_, n, l) if l.contains(word) =>
        val owner = lines.takeWhile(_._2 <= n).reverseIterator
          .flatMap { case (_, _, x) => anchor.findFirstMatchIn(x) }
          .map(m => Option(m.group(1)).getOrElse(m.group(2))).nextOption()
        (n, l, owner)
      }.collect { case (n, l, owner) if !allowed.exists { case (file, o) =>
          f.getPath.endsWith(file) && owner.contains(o) } =>
        s"${f.getPath}:$n (in ${owner.getOrElse("?")}): ${l.trim}"
      }
    }
  }

  test("every literal PlanCache.cached key prefix in src/main has exactly one call site") {
    // a shared entry has one builder: with two pasted builders under one
    // key, whichever query runs first decides what the other one reads
    val call = """PlanCache\.cached\(\s*\w+\s*,\s*s?"([^"$|]+)""".r
    val sites = codeLines(mainSources).flatMap { case (f, n, l) =>
      call.findAllMatchIn(l).map(m => m.group(1) -> s"${f.getPath}:$n")
    }
    assert(sites.nonEmpty, "no PlanCache.cached call site found")
    val pasted = sites.groupBy(_._1).collect { case (k, at) if at.size > 1 =>
      s"$k: ${at.map(_._2).mkString(", ")}" }
    assert(pasted.isEmpty,
      s"PlanCache key prefix built at more than one call site:\n  ${pasted.mkString("\n  ")}")
  }

  test("no cache key in src/main is built from a context's hash code") {
    // an identity hash is not a unique key; PlanCache entries belong to
    // the live SparkContext instead
    val words = Seq("identityHashCode", "sparkContext.hashCode")
    val offenders = codeLines(mainSources).collect {
      case (f, n, l) if words.exists(l.contains) => s"${f.getPath}:$n: ${l.trim}"
    }
    assert(offenders.isEmpty,
      s"hash-code cache key in src/main:\n  ${offenders.mkString("\n  ")}")
  }

  test("writeStream appears in src/main only inside the two stream runners and q91") {
    // Streaming.drain and Streaming.refresh run every finite stream;
    // q91's durable parquet file sink is the one exception
    val offenders = strayUses("writeStream", Set("drain", "refresh", "q91_stream_file_sink")
      .map("graft/streaming/Streaming.scala" -> _))
    assert(offenders.isEmpty,
      s"writeStream outside Streaming.drain/refresh and q91:\n  ${offenders.mkString("\n  ")}")
  }

  test("readStream appears in src/main only inside the file-stream reader and q117") {
    // Streaming.fileStream is the one reader of a parquet stream source;
    // q117 streams the custom graft-series source
    val offenders = strayUses("readStream", Set(
      "graft/streaming/Streaming.scala" -> "fileStream",
      "graft/sources/Sources.scala" -> "q117_stream_custom_source"))
    assert(offenders.isEmpty,
      s"readStream outside Streaming.fileStream and q117:\n  ${offenders.mkString("\n  ")}")
  }

  test("/proc appears in src/main only inside the steal meter") {
    // Bench and Verify read steal through SparkEntry.stealMeter; a second
    // /proc reader (a pasted steal copy, a process scan) does not come back
    val offenders = strayUses("/proc", Set("graft/SparkEntry.scala" -> "stealMeter"))
    assert(offenders.isEmpty,
      s"/proc read outside SparkEntry.stealMeter:\n  ${offenders.mkString("\n  ")}")
  }

  test("no staging copy of a stream source in the streaming code or RetainOps") {
    // streams read their input dir in place; a staged copy of it grew
    // scratch space per input dir and raced between processes
    val words = Seq("stageFlat", "_STAGED", "events_stream")
    val offenders = mainSources
      .filter(f => f.getPath.contains("graft/streaming/") ||
        f.getPath.endsWith("graft/operators/RetainOps.scala"))
      .flatMap { f =>
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        words.filter(txt.contains).map(w => s"${f.getPath} (contains '$w')")
      }
    assert(offenders.isEmpty,
      s"stream staging code is back:\n  ${offenders.mkString("\n  ")}")
  }

  test("r6, dsum and dsumSql are each defined once in src/main") {
    // the oracle-facing rounding and exact-decimal sum live in CausalOps;
    // a module imports them, so both engines round and sum one way
    for (name <- Seq("r6", "dsum", "dsumSql")) {
      val defn = s"\\bdef $name\\b".r
      val sites = codeLines(mainSources).collect {
        case (f, n, l) if defn.findFirstIn(l).isDefined => s"${f.getPath}:$n"
      }
      assert(sites.size == 1, s"$name is defined ${sites.size} times:\n  ${sites.mkString("\n  ")}")
    }
  }

  test("no run of 5 consecutive |-margin oracle lines appears twice in src/main") {
    // a CTE two queries share is one named fragment in the module that
    // owns it (CausalOps.dailySql, CausalOps.miReadoutSql, ...), never a
    // pasted second copy that a fix to the first one misses
    val n = 5
    val first = scala.collection.mutable.Map.empty[Seq[String], String]
    val pasted = mainSources.sortBy(_.getPath).flatMap { f =>
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").map(_.trim).toSeq
      var last = -2
      (0 to lines.length - n).flatMap { i =>
        val w = lines.slice(i, i + n)
        if (!w.forall(_.startsWith("|"))) None
        else first.get(w) match {
          case None => first(w) = s"${f.getPath}:${i + 1}"; None
          case Some(at) =>
            val fresh = i != last + 1 // report a pasted block once
            last = i
            if (fresh) Some(s"${f.getPath}:${i + 1} repeats $at") else None
        }
      }
    }
    assert(pasted.isEmpty,
      s"oracle SQL pasted twice; share it as a named fragment:\n  ${pasted.mkString("\n  ")}")
  }
}
