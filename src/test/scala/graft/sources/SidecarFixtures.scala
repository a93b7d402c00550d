package graft.sources

import graft.sources.lwes.LwesStats
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Sidecar edits shared by the pushdown specs. */
object SidecarFixtures {

  /** Rewrite every sidecar in `dir` as if written before per-name
    * counts were complete-flagged: the `nc=` header token goes (the
    * `e=` lines stay, so only the nc= guard keeps the file unproven).
    * Each edited sidecar's `.crc` goes too (the local FS checksum would
    * turn the edited read into "no stats"), and so does the directory
    * manifest, which would shadow the sidecars. */
  def stripNamesComplete(dir: String): Unit = {
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".stats"))
      .foreach { f =>
        val text = new String(Files.readAllBytes(f.toPath), UTF_8)
        assert(text.contains(" nc=1"), s"${f.getName} has no nc=1 token")
        Files.write(f.toPath, text.replaceFirst(" nc=1", "").getBytes(UTF_8))
        new java.io.File(dir, s".${f.getName}.crc").delete()
      }
    new java.io.File(dir, LwesStats.ManifestName).delete()
  }
}
