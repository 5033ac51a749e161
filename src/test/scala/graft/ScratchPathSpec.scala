package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the two isolation properties of the per-process scratch paths
  * behind the steady minhash index and the curate stage dirs (round-9
  * advice: the old dir.hashCode key could collide across data dirs, and
  * a shared path let two processes race write-vs-read). */
class ScratchPathSpec extends AnyFunSuite {
  private val sp = graft.queries.Pipeline.scratchPath _

  /** Classpath for a child JVM: file URLs off the classloader chain
    * (covers sbt's layered loaders) unioned with java.class.path (covers
    * plain `java -cp`). Empty when nothing file-based is visible. */
  private def forkClasspath(): String = {
    def urlsOf(cl: ClassLoader): Seq[String] = cl match {
      case u: java.net.URLClassLoader =>
        u.getURLs.toSeq.filter(_.getProtocol == "file")
          .flatMap(x => scala.util.Try(
            java.nio.file.Paths.get(x.toURI).toString).toOption)
      case _ => Nil
    }
    val chain = Iterator.iterate(getClass.getClassLoader)(_.getParent)
      .takeWhile(_ != null).flatMap(urlsOf).toSeq
    val sysCp = System.getProperty("java.class.path", "")
      .split(java.io.File.pathSeparator).toSeq
    (chain ++ sysCp).filter(_.nonEmpty).distinct
      .mkString(java.io.File.pathSeparator)
  }

  test("distinct data dirs can never share a scratch path") {
    // the full sanitized path is the key — not a 32-bit hash that can
    // collide; these two differ in one character
    assert(sp("graft_mh_steady", "/root/testdata/sf0.1", 1L) !=
      sp("graft_mh_steady", "/root/testdata/sf0.2", 1L))
    // classic hashCode-collision pair ("Aa" and "BB" collide on
    // String.hashCode) stays distinct under full-path keying
    assert("Aa".hashCode == "BB".hashCode)
    assert(sp("p", "/data/Aa", 1L) != sp("p", "/data/BB", 1L))
  }

  test("distinct processes can never share a scratch path") {
    assert(sp("graft_mh_steady", "/root/testdata/sf0.1", 100L) !=
      sp("graft_mh_steady", "/root/testdata/sf0.1", 101L))
    // and the real pid is embedded in this process's paths
    val mine = sp("graft_mh_steady", "/root/testdata/sf0.1",
      ProcessHandle.current().pid())
    assert(mine.contains(s"p${ProcessHandle.current().pid()}"))
  }

  test("scratch paths land under java.io.tmpdir with a sanitized key") {
    val p = sp("graft_curate_stages", "/weird dir/with:colons", 7L)
    assert(p.startsWith(sys.props("java.io.tmpdir")))
    val name = java.nio.file.Paths.get(p).getFileName.toString
    assert(name.matches("graft_curate_stages_[A-Za-z0-9._-]+_p7"),
      s"unsanitized scratch dir name: $name")
  }

  test("two real processes on the same data dir get disjoint scratch paths") {
    // the integration form of the property: a SECOND JVM (no Spark —
    // just the path function) computes its scratch path for the SAME
    // prefix and dir, and it must differ from this process's. This is
    // the exact overlap that could interleave writes and reads in
    // round 9 (a Verify run concurrent with a benchmark process).
    val dir = "/root/testdata/sf0.1"
    val mine = graft.queries.Pipeline.scratchPath("graft_mh_steady", dir)
    val cp = forkClasspath()
    assert(cp.nonEmpty, "need a reconstructible classpath to fork")
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(javaBin, "-cp", cp,
      "graft.queries.ScratchPathProbe", "graft_mh_steady", dir).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    assert(p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      && p.exitValue() == 0, "probe JVM failed")
    assert(out.nonEmpty && out != mine,
      s"two processes computed the SAME scratch path: $out")
    // same key scheme, different pid only
    assert(out.stripSuffix(out.split("_p").last) ==
      mine.stripSuffix(mine.split("_p").last),
      s"paths differ beyond the pid suffix: $mine vs $out")
  }
}
