package graft

/** The two-PROCESS durable-index receipt (VERDICT r6 next-round 1):
  * the bucketed posting table's "write once EVER" claim depends on
  * bucket metadata surviving the JVM, which an in-memory catalog
  * cannot show. This spec forks two REAL JVMs running
  * [[graft.tools.PostingIndexCli]] against one shared
  * (warehouse, Derby metastore) pair and asserts:
  *
  *  - run 1 finds no table (`existed=false`), builds it, probes it;
  *  - run 2 finds the table in the durable catalog (`existed=true`),
  *    probes it with ZERO exchanges above the bucketed index scan,
  *    returns the same row count — and leaves every warehouse data
  *    file byte-untouched (same (path, size, mtime) listing), i.e.
  *    no rebuild, no rewrite.
  */
class PostingIndexCrossJvmSpec extends SuiteTempDirs {

  private val sf = "/root/testdata/sf0.001"

  private def runCli(wh: String, ms: String, cwd: java.io.File): String = {
    val (code, out) = ForkedJvm.run("3g", cwd, Nil, "graft.tools.PostingIndexCli", sf, wh, ms)
    assert(code === 0, s"CLI exited $code; tail:\n${out.takeRight(4000)}")
    val line = out.linesIterator.find(_.contains("[xjvm]"))
    assert(line.isDefined, s"no [xjvm] line; tail:\n${out.takeRight(4000)}")
    line.get
  }

  private def rowsOf(line: String): Long =
    "rows=(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(-1L)

  test("a second JVM probes the first JVM's bucketed posting index without a rebuild") {
    val root = new java.io.File(suiteTempDir("graft_xjvm"))
    val wh = new java.io.File(root, "warehouse").getAbsolutePath
    val ms = new java.io.File(root, "metastore").getAbsolutePath

    val r1 = runCli(wh, ms, root)
    assert(r1.contains("existed=false"), s"run 1 should start from an empty catalog: $r1")
    assert(r1.contains("indexExchanges=0"), s"run 1 bucketed probe shuffled: $r1")
    assert(rowsOf(r1) > 0, s"run 1 returned no rows: $r1")

    def listing: Set[(String, Long, Long)] = {
      val base = java.nio.file.Paths.get(wh)
      val s = java.nio.file.Files.walk(base)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSet.map {
        (p: AnyRef) =>
          val path = p.asInstanceOf[java.nio.file.Path]
          (base.relativize(path).toString, java.nio.file.Files.size(path),
            java.nio.file.Files.getLastModifiedTime(path).toMillis)
      } finally s.close()
    }
    val files1 = listing
    assert(files1.nonEmpty, "run 1 wrote no warehouse files")

    val r2 = runCli(wh, ms, root)
    assert(r2.contains("existed=true"),
      s"the durable catalog lost the table — second JVM rebuilt: $r2")
    assert(r2.contains("indexExchanges=0"), s"run 2 bucketed probe shuffled: $r2")
    assert(rowsOf(r2) === rowsOf(r1), s"probe results diverged: $r1 vs $r2")
    assert(listing === files1,
      "second JVM rewrote warehouse files — the index was not reused byte-for-byte")
  }
}
