package graft

/** Driver-contract smoke: entry returns rows; every query key has either an
  * oracle or is intentionally rows-only; all queries run at sf0.001; the
  * library packages read no environment knobs.
  */
class EntrySpec extends SparkSpec {

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
    // deployment settings belong to the entry mains in graft/ (Bench,
    // Verify, SkewBench); a knob inside an operator or query changes
    // behaviour that no test or oracle run sets
    val knob = "\\b(sys\\.env|sys\\.props|System\\.getenv|System\\.getProperty)\\b".r
    val pkgs = Seq("operators", "queries", "sources", "plans", "functions", "streaming")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val roots = pkgs.map(p => new java.io.File(s"src/main/scala/graft/$p"))
    assert(roots.forall(_.isDirectory),
      s"package dirs not found from ${new java.io.File(".").getAbsolutePath}")
    val hits = for {
      f <- roots.flatMap(scalaFiles)
      lines = scala.util.Using.resource(
        scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toList)
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if knob.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}"
    assert(hits.isEmpty, s"environment knobs in library code:\n${hits.mkString("\n")}")
  }
}
