package graft.sources

import java.io.{BufferedOutputStream, FilterOutputStream, OutputStream}
import java.nio.file.{FileAlreadyExistsException, Files, Path => JPath}
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

/** The one way an output file is created: the sink's SSTable
  * components ([[SSTableBinaryV2.writeGeneration]]), the sidecar tools'
  * copies and the sstabledump sink all write through here.
  *
  * On Hadoop's `LocalFileSystem` the file goes through `java.nio`, not
  * through Hadoop. Hadoop's local create sets each new file's and
  * directory's mode, and without the native Hadoop library it does so
  * by forking `chmod` once per file. Here:
  *  - a stale `.crc` sibling is deleted. An earlier checksummed writer
  *    may have left one, and readers open through the checksummed
  *    filesystem, so it would fail the read of the new bytes. No new
  *    `.crc` is written: the directory holds the output files only;
  *  - missing parent directories are created with Hadoop's directory
  *    mode (0777 under `fs.permissions.umask-mode`, 0755 by default),
  *    and the file gets Hadoop's file mode (0666 under the umask, 0644
  *    by default), each set by a `chmod` syscall;
  *  - writes reach the channel in chunks of at most 8 KiB, as in
  *    `Files.write`. A channel write of a heap array copies it into a
  *    thread-cached direct buffer of the same size, which would
  *    otherwise grow with the largest component written.
  *
  * Every other scheme keeps `fs.create(path, true)`. */
private[graft] object OutputFiles {

  private val Chunk = 8192

  /** Writes `bytes` as the whole of the file at `path`. */
  def write(fs: FileSystem, path: HPath, bytes: Array[Byte]): Unit =
    stream(fs, path)(_.write(bytes))

  /** Creates (or truncates) the file at `path` and hands its stream to
    * `body`, closing it after. */
  def stream[A](fs: FileSystem, path: HPath)(body: OutputStream => A): A = {
    val os = fs match {
      case local: LocalFileSystem => openLocal(local, path)
      case other => other.create(path, true)
    }
    try body(os) finally os.close()
  }

  private def openLocal(local: LocalFileSystem, path: HPath): OutputStream = {
    val umask = FsPermission.getUMask(local.getConf)
    def mode(p: FsPermission) =
      PosixFilePermissions.fromString(p.applyUMask(umask).toString)
    val file = local.pathToFile(path).toPath
    Files.deleteIfExists(local.pathToFile(local.getChecksumFile(path)).toPath)
    mkdirs(file.getParent, mode(FsPermission.getDirDefault))
    val channel = Files.newOutputStream(file)
    try Files.setPosixFilePermissions(file, mode(FsPermission.getFileDefault))
    catch { case e: Throwable => channel.close(); throw e }
    new BufferedOutputStream(new FilterOutputStream(channel) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        var done = 0
        while (done < len) {
          val n = math.min(Chunk, len - done)
          out.write(b, off + done, n)
          done += n
        }
      }
    }, Chunk)
  }

  /** Creates `dir` and its missing ancestors, each with `mode`. Tasks
    * writing into one table directory race to create it; losing the
    * race to another directory is not an error. */
  private def mkdirs(dir: JPath,
      mode: java.util.Set[PosixFilePermission]): Unit =
    if (dir != null && !Files.isDirectory(dir)) {
      mkdirs(dir.getParent, mode)
      try {
        Files.createDirectory(dir)
        Files.setPosixFilePermissions(dir, mode)
      } catch {
        case _: FileAlreadyExistsException if Files.isDirectory(dir) =>
      }
    }
}
