package graft

/** Driver-contract smoke: entry returns rows; every query key has either an
  * oracle or is intentionally rows-only; all queries run at sf0.001; the
  * library packages read no environment knobs; one session factory; one
  * engine listener; one parquet reader; one store-publish swap; one
  * implementation per codegen kernel.
  */
class EntrySpec extends SparkSpec {

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private def lines(f: java.io.File): List[String] =
    scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toList)

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query runs and aligns column names with its oracle") {
    val ids = "(?i)\\b[a-z_][a-z0-9_]*\\b".r
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.count() // forces full execution
      SparkEntry.oracleSql.get(name).foreach { sql =>
        val sqlTokens = ids.findAllIn(sql.toLowerCase).toSet
        df.columns.foreach { c =>
          assert(sqlTokens.contains(c.toLowerCase),
            s"$name: output column '$c' never appears in its oracle SQL")
        }
      }
    }
  }

  test("library packages read no environment variables or system properties") {
    // deployment settings belong to the entry mains and the session
    // factory in graft/ (Bench, Verify, Session); a knob inside an
    // operator or query changes behaviour that no test or oracle run sets
    val knob = "\\b(sys\\.env|sys\\.props|System\\.getenv|System\\.getProperty)\\b".r
    val pkgs = Seq("operators", "queries", "sources", "plans", "functions", "streaming")
    val roots = pkgs.map(p => new java.io.File(s"src/main/scala/graft/$p"))
    assert(roots.forall(_.isDirectory),
      s"package dirs not found from ${new java.io.File(".").getAbsolutePath}")
    val hits = for {
      f <- roots.flatMap(scalaFiles)
      (line, i) <- lines(f).zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if knob.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}"
    assert(hits.isEmpty, s"environment knobs in library code:\n${hits.mkString("\n")}")
  }

  // one conf for every main and spec (the plans Explain prints are the
  // plans Bench times and Verify checks), one tagged engine listener, one
  // parquet reader (no schema-inference job per read) and one rename-aside
  // swap (heal, move aside, install: the publish protocol); each pattern
  // is assembled at run time so this file does not match it
  private val mainAndTest = Seq("src/main/scala", "src/test/scala")
  for ((name, needle, owner, dirs) <- Seq(
      ("graft.Session is the only SparkSession builder",
        Seq("SparkSession", "builder").mkString("."), "Session", mainAndTest),
      ("graft.JobStats is the only SparkListener registration",
        Seq("add", "SparkListener").mkString, "JobStats", mainAndTest),
      ("graft.sources.ParquetStore is the only parquet reader in the library",
        Seq("read", "parquet(").mkString("."), "sources/ParquetStore", Seq("src/main/scala")),
      ("graft.sources.ParquetStore is the only file-system rename in the library",
        Seq("", "rename(").mkString("."), "sources/ParquetStore", Seq("src/main/scala"))))
    test(name) {
      val roots = dirs.map(new java.io.File(_))
      assert(roots.forall(_.isDirectory),
        s"source dirs not found from ${new java.io.File(".").getAbsolutePath}")
      val hits = for {
        f <- roots.flatMap(scalaFiles)
        if f.getPath != s"src/main/scala/graft/$owner.scala"
        (line, i) <- lines(f).zipWithIndex
        if line.contains(needle)
      } yield s"${f.getPath}:${i + 1}"
      assert(hits.isEmpty, s"$needle outside $owner.scala:\n${hits.mkString("\n")}")
    }

  // a graft.plans kernel holds its algorithm once, in its companion's
  // compute, which interpreted eval and generated code both call; a
  // hand-written Java body in doGenCode (the only use of freshName there)
  // would be a second implementation to keep in step
  test("every graft.plans expression evaluates through one compute") {
    val root = new java.io.File("src/main/scala/graft/plans")
    assert(root.isDirectory, s"plans dir not found from ${new java.io.File(".").getAbsolutePath}")
    val found = for {
      f <- scalaFiles(root)
      ls = lines(f)
      (line, i) <- ls.zipWithIndex
      kind <- Seq("freshName(", "def doGenCode(", "def nullSafeEval(").filter(line.contains)
      // a method's text runs to the next blank line
      body = ls.drop(i).takeWhile(_.trim.nonEmpty).mkString("\n")
    } yield (kind, s"${f.getPath}:${i + 1}", kind != "freshName(" && body.contains("compute("))
    val bad = found.collect { case (kind, at, false) => s"$at: $kind" }
    assert(bad.isEmpty,
      s"freshName( or an eval method that does not call compute(:\n${bad.mkString("\n")}")
    val counts = found.groupMapReduce(_._1)(_ => 1)(_ + _)
    assert(counts.get("def doGenCode(").exists(_ > 0) &&
      counts.get("def doGenCode(") == counts.get("def nullSafeEval("), counts)
  }
}
