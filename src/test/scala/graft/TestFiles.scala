package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Edits to committed metadata files, for specs that check how a manifest
  * or marker missing a field is refused.
  */
object TestFiles {
  /** Drop the lines starting with `prefix`, and the Hadoop checksum file
    * that would no longer match.
    */
  def dropLines(f: File, prefix: String): Unit = {
    Files.write(f.toPath, Files.readAllLines(f.toPath).asScala.filterNot(_.startsWith(prefix)).asJava)
    new File(f.getParentFile, s".${f.getName}.crc").delete()
  }
}
