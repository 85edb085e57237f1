package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

/** Scratch space for catalog queries that stage files, one root per
  * JVM: `java.io.tmpdir/graft-scratch/<pid>/<tag>`. A JVM wipes and
  * reuses only the tags under the root named for its own process, so
  * two JVMs that run queries at once never touch each other's staged
  * inputs. The root is removed at JVM exit; the roots of processes
  * that are gone (a killed JVM never runs its exit hook) are swept the
  * first time a JVM asks for scratch. */
object Scratch {
  private val base: Path =
    Paths.get(System.getProperty("java.io.tmpdir"), "graft-scratch")

  /** This JVM's root, named for its process id. */
  lazy val root: Path = {
    sweep()
    val r = base.resolve(ProcessHandle.current().pid().toString)
    Files.createDirectories(r)
    sys.addShutdownHook(delete(r.toFile))
    r
  }

  /** The path for `tag` under [[root]], with whatever an earlier query
    * left there wiped: repeated runs reuse one path per tag instead of
    * accumulating a fresh full-corpus copy per run. The writer creates
    * the directory itself. */
  def dir(tag: String): String = {
    val p = root.resolve(tag)
    delete(p.toFile)
    p.toString
  }

  /** Removes every root whose process no longer runs. */
  private[graft] def sweep(): Unit = {
    val roots = base.toFile.listFiles()
    if (roots != null) roots.foreach { f =>
      if (f.getName.toLongOption.exists(pid => !ProcessHandle.of(pid).isPresent))
        delete(f)
    }
  }

  private def delete(f: File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(delete)
    }
    f.delete(): Unit
  }
}
