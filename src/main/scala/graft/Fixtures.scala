package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

/** The in-repo reference fixtures: small input files whose bytes are
  * stated in a document of this repo (FIXTURES.md §4 names each file's
  * source), shipped as classpath resources under `fixtures/`
  * (`src/main/resources/fixtures`). Golden blocks address them as
  * `$FIXTURES/<name>` ([[GoldenRunner.run]] substitutes it); specs and
  * registry rows call [[path]].
  */
object Fixtures {

  private val local = new ConcurrentHashMap[String, String]()

  /** A local filesystem path holding the bytes of fixture `name`. A
    * resource on disk is returned in place; one inside a jar is copied
    * once per JVM to a temp file (Spark's file sources read paths, not
    * classpath URLs).
    */
  def path(name: String): String = local.computeIfAbsent(name, n => {
    val url = Option(getClass.getClassLoader.getResource(s"fixtures/$n"))
      .getOrElse(throw new IllegalArgumentException(s"no fixture '$n'"))
    if (url.getProtocol == "file") Paths.get(url.toURI).toString
    else {
      val tmp = Files.createTempFile("graft-fixture-", "-" + Paths.get(n).getFileName)
      tmp.toFile.deleteOnExit()
      val in = url.openStream()
      try Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING) finally in.close()
      tmp.toString
    }
  })
}
