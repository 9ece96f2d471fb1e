package graft.sources

import java.io.OutputStream
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared filesystem plumbing for the lake code, driver and executor side.
  *
  * Two measured costs this object removes (jstack-sampled during a q104
  * bench loop at sf0.1, 32 cores):
  *
  *  1. `new Configuration()` per call: every construction synchronizes on
  *     `Configuration.class` (the static REGISTRY) and re-parses the
  *     default XML resources on first read — 21 of 60 executor-thread
  *     samples sat BLOCKED in `Configuration.<init>`. The lake only ever
  *     READS the conf (getFileSystem), so one JVM-wide instance serves
  *     every call; `FileSystem.get` caches by (scheme, authority, ugi)
  *     anyway, so the returned filesystems were already shared.
  *
  *  2. Hadoop's local-FS create tax: without libhadoop (none in this
  *     container class), `RawLocalFileSystem.setPermission` shells out to
  *     `chmod` for EVERY created file (16 of 60 samples inside
  *     `ProcessImpl.forkAndExec` under the classic rewrite), and
  *     `ChecksumFileSystem` doubles the file count and write volume with
  *     `.crc` siblings. Both are pure overhead here: the manifest commit
  *     protocol (staged write + atomic rename publish) is what guards
  *     integrity, parquet payloads carry internal checksums, and the JSON
  *     payload's truth is the manifest entry, not a CRC sidecar.
  *     [[newOutput]] therefore writes local files through `java.nio`
  *     (same durability class as Hadoop's local stream — buffered write,
  *     flushed on close) and keeps the plain `fs.create` for any
  *     non-local filesystem, where the create path is a single RPC and
  *     checksumming is the store's job.
  */
object LakeIO {

  /** One JVM-wide read-only Hadoop conf (see point 1 above). Callers that
    * must MUTATE a conf copy it (`new Configuration(LakeIO.conf)` — the
    * copy constructor clones properties without re-parsing the XML).
    */
  lazy val conf: Configuration = new Configuration()

  /** Create `f` for writing. Local scheme: java.nio, no chmod fork, no
    * `.crc` sibling (an overwrite deletes a stale one); `overwrite =
    * false` keeps Hadoop's atomic fail-if-exists contract (`CREATE_NEW`
    * is a single atomic open).
    */
  def newOutput(fs: FileSystem, f: Path, overwrite: Boolean): OutputStream =
    if (fs.getScheme == "file") {
      val p = Paths.get(f.toUri.getPath)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      if (overwrite) {
        // a `.crc` sibling Hadoop's checksummed local filesystem wrote for
        // the old bytes would fail every later read through it
        Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
        Files.newOutputStream(p, StandardOpenOption.CREATE,
          StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
      } else
        try Files.newOutputStream(p, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE)
        catch {
          // callers pattern-match Hadoop's exception type (the
          // fail-if-exists contract signal) — keep it across both paths
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(
              s"File already exists: ${e.getMessage}")
        }
    } else fs.create(f, overwrite)
}
