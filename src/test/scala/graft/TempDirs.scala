package graft

import java.nio.file.{Files, Path, StandardCopyOption}

/** Temp-directory helpers shared by the specs. */
object TempDirs {

  /** Delete `p` and everything under it. */
  def rm(p: java.io.File): Unit = {
    Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
  }

  /** Copy the regular files directly under `src` (a local path, with or
    * without a `file:` scheme) into `dst`, keeping their mtimes: a copied
    * sharded fixture then still matches the (length, mtime) its shard
    * summary records. Hidden files (the local filesystem's `.crc`
    * checksums) stay behind, so a spec may rewrite a copied file in
    * place. */
  def copyFiles(src: String, dst: Path): Unit =
    Option(new java.io.File(new org.apache.hadoop.fs.Path(src).toUri.getPath).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith(".")).foreach { f =>
        Files.copy(f.toPath, dst.resolve(f.getName), StandardCopyOption.COPY_ATTRIBUTES)
      }
}
